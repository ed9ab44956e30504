package graft

import graft.sources.TxTable
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** The transactional table layer: atomic multi-file commits, snapshot
  * isolation, time travel, additive schema evolution, optimistic
  * concurrency, vacuum — the contracts a production CDC target reads
  * against, proven on the real filesystem protocol (hard-link
  * put-if-absent), not mocks.
  */
class TxTableSpec extends SparkSpecBase {

  private lazy val s = spark
  import s.implicits._

  test("append/overwrite versioning and time travel") {
    val dir = Files.createTempDirectory("txtable").toString
    val v0 = TxTable.commit(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), dir)
    val v1 = TxTable.commit(Seq((3L, "c")).toDF("id", "v"), dir, "append")
    val v2 = TxTable.commit(Seq((9L, "z")).toDF("id", "v"), dir, "overwrite")
    assert(Seq(v0, v1, v2) === Seq(0L, 1L, 2L))
    assert(TxTable.read(s, dir).select("id").collect().map(_.getLong(0)).toSet === Set(9L))
    assert(TxTable.read(s, dir, Some(1L)).select("id")
      .collect().map(_.getLong(0)).toSet === Set(1L, 2L, 3L))
    assert(TxTable.read(s, dir, Some(0L)).select("id")
      .collect().map(_.getLong(0)).toSet === Set(1L, 2L))
  }

  test("readers never see uncommitted data files") {
    val dir = Files.createTempDirectory("txatomic").toString
    TxTable.commit(Seq((1L, "a")).toDF("id", "v"), dir)
    // a writer lands data files but dies before publishing the manifest
    Seq((99L, "ghost")).toDF("id", "v").write.parquet(s"$dir/data/orphan-commit")
    assert(TxTable.read(s, dir).select("id").collect().map(_.getLong(0)).toSet
      === Set(1L), "unpublished files must be invisible")
    assert(TxTable.versions(dir) === Seq(0L))
  }

  test("concurrent appends both commit; the union survives") {
    val dir = Files.createTempDirectory("txrace").toString
    TxTable.commit(Seq((0L, "base")).toDF("id", "v"), dir)
    val dfs = (1 to 4).map(i => Seq((i.toLong, s"w$i")).toDF("id", "v"))
    val threads = dfs.map { d =>
      new Thread(() => { TxTable.commit(d, dir, "append"); () })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    assert(TxTable.versions(dir) === (0L to 4L),
      "every racer must land its own version")
    assert(TxTable.read(s, dir).select("id").collect().map(_.getLong(0)).toSet
      === Set(0L, 1L, 2L, 3L, 4L), "appends commute — nothing lost")
  }

  test("schema evolution: additive append works, destructive append is rejected") {
    val dir = Files.createTempDirectory("txschema").toString
    TxTable.commit(Seq((1L, "a")).toDF("id", "v"), dir)
    TxTable.commit(Seq((2L, "b", 7.5)).toDF("id", "v", "score"), dir, "append")
    val rows = TxTable.read(s, dir).orderBy("id").collect()
    assert(rows.map(_.getLong(0)).toSeq === Seq(1L, 2L))
    assert(rows(0).isNullAt(2), "old files surface the new column as null")
    assert(rows(1).getDouble(2) === 7.5)
    // old version reads under its own (2-column) schema
    assert(TxTable.read(s, dir, Some(0L)).schema.fieldNames.toSeq === Seq("id", "v"))

    val drop = intercept[IllegalArgumentException] {
      TxTable.commit(Seq(Tuple1(3L)).toDF("id"), dir, "append")
    }
    assert(drop.getMessage.contains("drops column"))
    val retype = intercept[IllegalArgumentException] {
      TxTable.commit(Seq((4L, 5L, 1.0)).toDF("id", "v", "score"), dir, "append")
    }
    assert(retype.getMessage.contains("retypes column"))
    // overwrite may replace the schema wholesale
    TxTable.commit(Seq(Tuple1(10L)).toDF("id"), dir, "overwrite")
    assert(TxTable.read(s, dir).schema.fieldNames.toSeq === Seq("id"))
  }

  test("vacuum retires expired versions and their unreferenced files only") {
    val dir = Files.createTempDirectory("txvacuum").toString
    TxTable.commit(Seq((1L, "a")).toDF("id", "v"), dir)             // v0
    TxTable.commit(Seq((2L, "b")).toDF("id", "v"), dir, "append")   // v1 = v0 files + new
    TxTable.commit(Seq((3L, "c")).toDF("id", "v"), dir, "append")   // v2 = v1 files + new
    val keptFiles = TxTable.snapshot(dir, 2L).files
    TxTable.vacuum(dir, keepVersions = 1)
    assert(TxTable.versions(dir) === Seq(2L))
    // v2 references every file ever appended, so nothing is deleted
    keptFiles.foreach(f =>
      assert(Files.exists(Paths.get(dir, f)), s"referenced file $f must survive"))
    assert(TxTable.read(s, dir).select("id").collect().map(_.getLong(0)).toSet
      === Set(1L, 2L, 3L))

    // an overwrite orphans history: vacuum now deletes the old files
    TxTable.commit(Seq((9L, "z")).toDF("id", "v"), dir, "overwrite") // v3
    val orphaned = TxTable.snapshot(dir, 2L).files
    TxTable.vacuum(dir, keepVersions = 1)
    assert(TxTable.versions(dir) === Seq(3L))
    orphaned.foreach(f =>
      assert(!Files.exists(Paths.get(dir, f)), s"orphaned file $f must be deleted"))
    assert(TxTable.read(s, dir).select("id").collect().map(_.getLong(0)).toSet
      === Set(9L))
  }

  test("streaming commits are exactly-once per epoch; TxSink drains batches into versions") {
    val tmp = Files.createTempDirectory("txstream").toString
    val (srcDir, tableDir, chk) = (s"$tmp/src", s"$tmp/table", s"$tmp/chk")
    val schema = new org.apache.spark.sql.types.StructType()
      .add("id", org.apache.spark.sql.types.LongType, nullable = false)
      .add("v", org.apache.spark.sql.types.StringType, nullable = true)

    Seq(Seq((1L, "a"), (2L, "b")), Seq((3L, "c"))).foreach(rows =>
      rows.toDF("id", "v").coalesce(1).write.mode("append").parquet(srcDir))
    graft.streaming.TxSink.drain(s, srcDir, schema, tableDir, chk,
      maxFilesPerTrigger = 1)
    assert(TxTable.versions(tableDir).size === 2,
      "each micro-batch lands as one version")
    assert(TxTable.read(s, tableDir).select("id")
      .collect().map(_.getLong(0)).toSet === Set(1L, 2L, 3L))

    // crash window: the checkpoint never committed, the epoch re-runs —
    // the stamp short-circuits, no new version, same answers
    val epoch0 = TxTable.versions(tableDir).map(TxTable.snapshot(tableDir, _))
      .find(_.epoch.isDefined).get.epoch.get
    val before = TxTable.versions(tableDir)
    val got = TxTable.commitStreaming(
      Seq((1L, "a"), (2L, "b")).toDF("id", "v"), tableDir, epoch0)
    assert(TxTable.versions(tableDir) === before, "replayed epoch commits nothing")
    assert(TxTable.snapshot(tableDir, got).epoch.contains(epoch0))
  }

  test("manifest file stats prune whole files; pruned read equals filtered read") {
    val dir = Files.createTempDirectory("txprune").toString
    // three commits with DISJOINT id ranges, each its own file
    Seq(0L until 100L, 100L until 200L, 200L until 300L).foreach { r =>
      TxTable.commit(r.map(i => (i, s"r$i")).toDF("id", "v").coalesce(1),
        dir, "append", statsColumns = Seq("id"))
    }
    val pruned = TxTable.readPruned(s, dir, "id", 120L, 150L)
    assert(pruned.inputFiles.length === 1,
      s"only the overlapping file is opened, got ${pruned.inputFiles.length}")
    val full = TxTable.read(s, dir).where(col("id") >= 120L && col("id") <= 150L)
    assertSameRows(pruned, full, "pruned read vs filtered full read")
    // a range spanning two files opens exactly two
    assert(TxTable.readPruned(s, dir, "id", 90L, 110L).inputFiles.length === 2)
  }

  /** The manifest stats as a Spark job over the written files computed
    * them before the parquet writer recorded them: per file, the min/max
    * of each stats column's canonical expression. Kept as the oracle the
    * writer's ranges must equal.
    */
  private def statsJobOracle(dir: String, snap: TxTable.Snapshot,
      cols: Seq[String]): Map[String, Map[String, TxTable.ColRange]] = {
    val typed = cols.flatMap { c =>
      val dt = snap.schema(c).dataType
      TxTable.statKind(dt).map(k => (c, k, dt))
    }
    val aggs = typed.flatMap { case (c, _, dt) =>
      val e = TxTable.statCanonical(col(c), dt)
      Seq(min(e), max(e))
    }
    def repr(r: org.apache.spark.sql.Row, i: Int, kind: String) =
      if (kind == "long") r.getLong(i).toString else r.getString(i)
    s.read.schema(snap.schema).parquet(snap.files.map(f => s"$dir/$f"): _*)
      .groupBy(input_file_name().as("__f"))
      .agg(aggs.head, aggs.tail: _*)
      .collect()
      .map { r =>
        r.getString(0).split('/').takeRight(3).mkString("/") ->
          typed.zipWithIndex.flatMap { case ((c, k, _), i) =>
            if (r.isNullAt(1 + 2 * i)) None
            else Some(c -> TxTable.ColRange(k, repr(r, 1 + 2 * i, k), repr(r, 2 + 2 * i, k)))
          }.toMap
      }
      .filter(_._2.nonEmpty).toMap
  }

  test("writer-recorded stats, row counts and Blooms equal the Spark-job oracles") {
    // The parquet writer records every manifest entry as rows pass; the
    // stats job it replaced and the Bloom aggregate are the oracles.
    // Shapes in play: negatives, Long/Int extremes, nulls mixed into a
    // column, ALL-NULL columns (no range, all-zero Bloom words), dates,
    // timestamps in both parquet encodings (INT96 and INT64 micros), and
    // strings holding "", "|" and non-ASCII — over several files.
    import java.sql.{Date, Timestamp}
    val rows = Seq(
      (1L, Some(-5000000000L), Some(7), Some(Date.valueOf("2020-02-29")),
        Some(Timestamp.valueOf("2021-06-01 12:34:56.789")), Option.empty[Long],
        Some(""), Option.empty[String]),
      (2L, Some(Long.MaxValue), None, None,
        Some(Timestamp.valueOf("1969-12-31 23:59:59.0")), Option.empty[Long],
        Some("|"), Option.empty[String]),
      (3L, None, Some(-42), Some(Date.valueOf("1969-01-01")),
        None, Option.empty[Long], Some("a|b"), Option.empty[String]),
      (4L, Some(0L), Some(Int.MaxValue), Some(Date.valueOf("2031-12-31")),
        Some(Timestamp.valueOf("2031-01-01 00:00:00.000001")),
        Option.empty[Long], None, Option.empty[String]),
      (5L, Some(Long.MinValue), Some(Int.MinValue), Some(Date.valueOf("1900-01-01")),
        Some(Timestamp.valueOf("1900-01-01 00:00:00")), Option.empty[Long],
        Some("\u00e9\u4e2d"), Option.empty[String]),
      (6L, Some(17L), Some(0), None, None, Option.empty[Long], Some("zz"),
        Option.empty[String]))
    val df = rows.toDF("id", "big", "small", "d", "ts", "allnull", "s", "nulls")
      .repartition(3) // several files, some columns all-null per file
    val statsCols = Seq("id", "big", "small", "d", "ts", "allnull", "s", "nulls")
    val bloomCols = Seq("id", "small", "s", "nulls")
    def tsType(dir: String, f: String) = {
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(s"$dir/$f"), s.sparkContext.hadoopConfiguration)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      val m = try r.getFooter.getFileMetaData.getSchema finally r.close()
      m.getType(m.getFieldIndex("ts")).asPrimitiveType.getPrimitiveTypeName.name
    }
    def committed(encoding: String) = {
      val dir = Files.createTempDirectory(s"txwriterstats$encoding").toString
      s.conf.set("spark.sql.parquet.outputTimestampType", encoding)
      try TxTable.commit(df, dir, statsColumns = statsCols, bloomColumns = bloomCols,
        bloomBits = 1 << 10, bloomK = 3)
      finally s.conf.unset("spark.sql.parquet.outputTimestampType")
      (dir, TxTable.latest(dir).get)
    }
    val (dirA, a) = committed("INT96")
    val (dirB, b) = committed("TIMESTAMP_MICROS")
    assert(tsType(dirA, a.files.head) === "INT96")
    assert(tsType(dirB, b.files.head) === "INT64")
    Seq((dirA, a), (dirB, b)).foreach { case (dir, snap) =>
      assert(snap.files.size === 3)
      assert(snap.stats === statsJobOracle(dir, snap, statsCols),
        "writer ranges must equal the stats-job ranges")
      assert(snap.rows === s.read.parquet(snap.files.map(f => s"$dir/$f"): _*)
        .groupBy(input_file_name()).count().collect()
        .map(r => r.getString(0).split('/').takeRight(3).mkString("/") -> r.getLong(1)).toMap)
      assert(assertSidecarsMatchOracle(dir, snap) === 1)
      assert(snap.stats.values.forall(c => !c.contains("allnull") && !c.contains("nulls")))
      assert(snap.stats.values.exists(_.get("s").exists(_.min == "")))
      // and pruning over the recorded stats stays exact
      assertSameRows(TxTable.readPruned(s, dir, "id", 2L, 3L),
        TxTable.read(s, dir).where(col("id") >= 2L && col("id") <= 3L),
        "pruned read vs filtered full read")
    }
    // both timestamp encodings record the same canonical ranges
    def ranges(x: TxTable.Snapshot) = x.files.map(x.stats).sortBy(_("id").min)
    assert(ranges(a) === ranges(b))
  }

  test("no commit lists a zero-row file: MoR pure delete, CoW whole-file delete, empty overwrite") {
    // Spark's writer lands a file for partition 0 even when it is empty;
    // the writer's row counts keep such files out of every manifest
    def assertNoEmptyFile(dir: String): Unit = {
      val snap = TxTable.latest(dir).get
      assert(snap.files.forall(f => snap.rows.get(f).exists(_ > 0L)),
        s"v${snap.version} (${snap.op}) lists ${snap.files.map(f => f -> snap.rows.get(f))}")
      assert(TxTable.manifestRowCount(dir) === Some(TxTable.read(s, dir).count()))
    }
    val dir = Files.createTempDirectory("txnoempty").toString
    TxTable.commit(Seq((1L, "lone")).toDF("id", "v").coalesce(1), dir,
      statsColumns = Seq("id"), bloomColumns = Seq("id"))
    TxTable.commit((2L until 40L).map(i => (i, s"v$i")).toDF("id", "v").coalesce(1), dir,
      statsColumns = Seq("id"), bloomColumns = Seq("id"))
    def deletes(ids: Long*) =
      ids.map(i => (i, null.asInstanceOf[String], "DELETE")).toDF("id", "v", "operation")
    // MoR pure delete: no upsert rows, so the write lands only an empty file
    TxTable.merge(s, dir, deletes(5L), Seq("id"), writeMode = "mor")
    assertNoEmptyFile(dir)
    // CoW delete of a whole file's only row: the rewrite is empty
    val before = TxTable.latest(dir).get
    TxTable.merge(s, dir, deletes(1L), Seq("id"))
    val after = TxTable.latest(dir).get
    assertNoEmptyFile(dir)
    assert(after.files.size === before.files.size - 1, "the emptied file leaves the table")
    // a CoW merge with upserts and deletes across both kinds of files
    TxTable.merge(s, dir, Seq((7L, "x", "UPDATE"), (-3L, "y", "INSERT"),
      (9L, null, "DELETE")).toDF("id", "v", "operation"), Seq("id"))
    assertNoEmptyFile(dir)
    assert(TxTable.read(s, dir).count() === 37L)
    // no unlisted part file is left beside the listed ones
    val listed = TxTable.latest(dir).get.files.toSet
    val onDisk = TxTable.latest(dir).get.files.map(_.split('/').take(2).mkString("/"))
      .distinct.flatMap { d =>
        val it = Files.list(Paths.get(dir, d))
        try it.iterator().asScala.map(p => s"$d/${p.getFileName}")
          .filter(_.endsWith(".parquet")).toList
        finally it.close()
      }
    assert(onDisk.toSet === listed)
    // an empty overwrite lists no file and reads 0 rows at the declared schema
    val schema = org.apache.spark.sql.types.StructType.fromDDL("id BIGINT, v STRING")
    TxTable.commit(s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema),
      dir, "overwrite")
    val empty = TxTable.latest(dir).get
    assert(empty.files.isEmpty && empty.op === "overwrite")
    assert(TxTable.read(s, dir).schema === schema)
    assert(TxTable.read(s, dir).count() === 0L && TxTable.countRows(s, dir) === 0L)
  }

  test("compaction rewrites to fewer files with identical rows and surviving stats") {
    val dir = Files.createTempDirectory("txcompact").toString
    (0 until 6).foreach(i =>
      TxTable.commit(Seq((i.toLong, s"w$i")).toDF("id", "v").coalesce(1),
        dir, "append", statsColumns = Seq("id")))
    val before = TxTable.read(s, dir).collect().map(_.toSeq).toSet
    assert(TxTable.latest(dir).get.files.length === 6)
    TxTable.compact(s, dir, targetFiles = 2)
    assert(TxTable.latest(dir).get.files.length <= 2)
    assert(TxTable.read(s, dir).collect().map(_.toSeq).toSet === before)
    // stats survived the rewrite: a disjoint range opens no files
    assert(TxTable.readPruned(s, dir, "id", 1000L, 2000L).inputFiles.isEmpty)
  }

  test("vacuum sweeps crashed-commit orphans after the grace window only") {
    val dir = Files.createTempDirectory("txorphan").toString
    TxTable.commit(Seq((1L, "a")).toDF("id", "v"), dir)
    Seq((99L, "ghost")).toDF("id", "v").write.parquet(s"$dir/data/orphan-x")
    // inside the grace window the orphan survives (in-flight commits
    // must never lose their files)
    TxTable.vacuum(dir, keepVersions = 1)
    assert(Files.exists(Paths.get(dir, "data/orphan-x")))
    // past the grace window it is swept
    TxTable.vacuum(dir, keepVersions = 1, orphanGraceMs = 0L)
    assert(!Files.exists(Paths.get(dir, "data/orphan-x")))
    assert(TxTable.read(s, dir).select("id").collect().map(_.getLong(0)).toSet
      === Set(1L), "committed data untouched")
  }

  test("property: any append/overwrite/compact/vacuum sequence matches the in-memory model") {
    import org.scalacheck.{Gen, Prop, Test => ScTest}
    import org.scalacheck.Prop.propBoolean
    // ops: 0 = append, 1 = overwrite, 2 = compact, 3 = vacuum(keep 2)
    val genCase = for {
      nOps <- Gen.choose(2, 5)
      ops <- Gen.listOfN(nOps, Gen.choose(0, 3))
      sizes <- Gen.listOfN(nOps, Gen.choose(1, 4))
    } yield (ops, sizes)
    var nextId = 0L
    val prop = Prop.forAll(genCase) { case (ops0, sizes) =>
      val dir = Files.createTempDirectory("txmodel").toString
      val ops = 0 +: ops0 // first op is always an append (table must exist)
      // model: the full row set of every committed version
      var model = Vector.empty[Set[(Long, String)]]
      var firstRetained = 0
      ops.zip(sizes.head +: sizes).foreach { case (op, n) =>
        def fresh = {
          val rows = (0 until n).map { k => nextId += 1; (nextId, s"r$nextId") }
          (rows.toDF("id", "v"), rows.toSet)
        }
        op match {
          case 0 =>
            val (df, rows) = fresh
            TxTable.commit(df, dir, "append")
            model :+= model.lastOption.getOrElse(Set.empty).union(rows)
          case 1 =>
            val (df, rows) = fresh
            TxTable.commit(df, dir, "overwrite")
            model :+= rows
          case 2 =>
            TxTable.compact(s, dir, targetFiles = 1)
            model :+= model.last
          case 3 =>
            TxTable.vacuum(dir, keepVersions = 2, orphanGraceMs = 0L)
            firstRetained = math.max(firstRetained, model.size - 2)
          case other => throw new MatchError(other)
        }
      }
      val vsOk = TxTable.versions(dir) == (firstRetained.toLong until model.size.toLong)
      val reads = (firstRetained until model.size).forall { v =>
        TxTable.read(s, dir, Some(v.toLong))
          .collect().map(r => (r.getLong(0), r.getString(1))).toSet == model(v)
      }
      (vsOk && reads) :| s"versions=${TxTable.versions(dir)} expected=${firstRetained until model.size}"
    }
    val res = ScTest.check(ScTest.Parameters.default.withMinSuccessfulTests(8), prop)
    assert(res.passed, s"property failed: ${res.status}")
  }

  test("changeFeed general path: insert/update/delete classified, no-ops silent, images correct") {
    val dir = Files.createTempDirectory("txcf").toString
    TxTable.commit(Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")).toDF("id", "v"), dir)
    // overwrite: 1 and 4 deleted, 3 updated, 5 inserted, 2 untouched
    TxTable.commit(Seq((2L, "b"), (3L, "X"), (5L, "e")).toDF("id", "v"),
      dir, "overwrite")
    val feed = TxTable.changeFeed(s, dir, 0L, 1L, Seq("id"))
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    assert(feed.toSeq === Seq(
      (1L, "a", "delete"),   // pre-image
      (3L, "X", "update"),   // post-image
      (4L, "d", "delete"),
      (5L, "e", "insert")), "key 2 is unchanged and must emit nothing")
  }

  test("changeFeed append path: delta files only, stats prune the base side") {
    val dir = Files.createTempDirectory("txcfa").toString
    val base = (1L to 40L).map(i => (i, s"v$i")).toDF("id", "v")
      .repartitionByRange(4, col("id"))
    TxTable.commit(base, dir, "overwrite", statsColumns = Seq("id"))
    TxTable.commit(Seq((41L, "n1"), (42L, "n2")).toDF("id", "v"), dir, "append",
      statsColumns = Seq("id"))
    val feed = TxTable.changeFeed(s, dir, 0L, 1L, Seq("id"))
    val rows = feed.orderBy("id").collect().map(r => (r.getLong(0), r.getString(2)))
    assert(rows.toSeq === Seq((41L, "insert"), (42L, "insert")))
    // the base side must be pruned to files overlapping [41, 42] — none
    // of v0's four range-partitioned files qualifies, so the plan scans
    // ONLY the delta files
    val scanned = feed.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.relation.location.inputFiles.toSeq
    }.flatten
    val v0Files = TxTable.snapshot(dir, 0L).files.map(f => s"$dir/$f").toSet
    assert(scanned.forall(p => !v0Files.exists(p.endsWith)),
      s"base files must be stats-pruned away, scanned: $scanned")

    // appends that CAN overlap the base still classify updates correctly
    TxTable.commit(Seq((1L, "v1b")).toDF("id", "v"), dir, "append",
      statsColumns = Seq("id"))
    val feed2 = TxTable.changeFeed(s, dir, 1L, 2L, Seq("id"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    assert(feed2.toSeq === Seq((1L, "v1b", "update")))
  }

  test("changeFeed across schema evolution: new column joins the diff") {
    val dir = Files.createTempDirectory("txcfs").toString
    TxTable.commit(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), dir)
    TxTable.commit(Seq((2L, "b", 9.5), (3L, "c", 1.0)).toDF("id", "v", "score"),
      dir, "overwrite")
    val feed = TxTable.changeFeed(s, dir, 0L, 1L, Seq("id")).orderBy("id").collect()
    // 1: deleted (score null in the pre-image); 2: update — v identical
    // but score went null -> 9.5; 3: insert
    assert(feed.map(r => (r.getLong(0), r.getString(3))).toSeq
      === Seq((1L, "delete"), (2L, "update"), (3L, "insert")))
    assert(feed(0).isNullAt(2), "pre-image of a pre-evolution row has null score")
    assert(feed(1).getDouble(2) === 9.5)
  }

  test("string stats: empty-string bounds round-trip; the table stays fully usable") {
    // b64enc("") is "" → the manifest line ends `|string||`; the parser
    // must keep the trailing empty fields (a truncating split would
    // throw on EVERY later snapshot, bricking the table)
    val dir = Files.createTempDirectory("txemptystat").toString
    TxTable.commit(Seq(("", 1L), ("", 2L)).toDF("k", "x"), dir,
      "overwrite", statsColumns = Seq("k"))
    assert(TxTable.read(s, dir).count() === 2L)
    TxTable.commit(Seq(("a", 3L)).toDF("k", "x"), dir,
      "append", statsColumns = Seq("k"))
    assert(TxTable.read(s, dir).select("x").collect().map(_.getLong(0)).toSet
      === Set(1L, 2L, 3L))
    // the recorded "" bound still participates in pruning correctly
    assertSameRows(TxTable.readPrunedString(s, dir, "k", "", ""),
      TxTable.read(s, dir).filter($"k" === ""), "empty-string pruned read")
  }

  test("merge: a mismatched-typed key batch fails LOUDLY; widening keys land exactly") {
    // LONG-keyed base with stats; a DELETE batch whose id is STRING
    // '5.0': the typed stats prune sees no castable keys while ANSI's
    // join cast throws mid-scan — either way the batch cannot be
    // trusted, so merge rejects it up front with a clear error and the
    // table is untouched. Lossless integral widening (int → long) is
    // fine and must hit exactly.
    val dir = Files.createTempDirectory("txmismatch").toString
    val base = (1L to 10L).map(i => (i, s"v$i")).toDF("id", "v").repartition(4)
    TxTable.commit(base, dir, "overwrite", statsColumns = Seq("id"))
    val e = intercept[IllegalArgumentException] {
      TxTable.merge(s, dir,
        Seq(("5.0", "x", "DELETE")).toDF("id", "v", "operation"), Seq("id"))
    }
    assert(e.getMessage.contains("cast the batch key explicitly"), e.getMessage)
    assert(TxTable.read(s, dir).count() === 10L, "rejected merge must not commit")
    // int-typed batch key widens losslessly and the DELETE lands
    TxTable.merge(s, dir,
      Seq((5, "x", "DELETE")).toDF("id", "v", "operation"), Seq("id"))
    assert(TxTable.read(s, dir).select("id").collect().map(_.getLong(0)).toSet
      === ((1L to 10L).toSet - 5L), "the widened DELETE must land")
    assert(TxTable.latest(dir).get.schema("id").dataType
      === org.apache.spark.sql.types.LongType)
  }

  test("merge: copy-on-write rewrites only files containing touched keys") {
    val dir = Files.createTempDirectory("txmergecow").toString
    val base = (1L to 40L).map(i => (i, s"v$i", i * 10.0)).toDF("id", "v", "x")
      .repartitionByRange(4, col("id"))
    TxTable.commit(base, dir, "overwrite", statsColumns = Seq("id"))
    val v0 = TxTable.snapshot(dir, 0L)
    assert(v0.files.size === 4, "range partitioning must land 4 files")
    // touch only keys 2 and 5 (first range file) + insert beyond all ranges
    val changes = Seq(
      (2L, null.asInstanceOf[String], 0.0, "DELETE"),
      (5L, "five!", 55.0, "UPDATE"),
      (99L, "new", 990.0, "INSERT")).toDF("id", "v", "x", "operation")
    val v1 = TxTable.merge(s, dir, changes, Seq("id"))
    assert(v1 === 1L)
    assert(TxTable.snapshot(dir, 1L).op === "merge")
    // content: 2 gone, 5 rewritten, 99 added, everything else untouched
    val rows = TxTable.read(s, dir).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(!rows.contains(2L))
    assert(rows(5L) === "five!")
    assert(rows(99L) === "new")
    assert(rows.size === 40, "39 survivors + 1 insert")
    // copy-on-write: the three files NOT containing keys 2/5 carry
    // forward by reference
    val carried = TxTable.snapshot(dir, 1L).files.toSet
      .intersect(v0.files.toSet)
    assert(carried.size === 3,
      s"only the hit file may be rewritten; carried: ${carried.size}")
    // and their skipping stats carried with them
    assert(carried.forall(f => TxTable.snapshot(dir, 1L).stats.contains(f)))
  }

  test("merge: concurrent merges serialize via CAS retry, both land") {
    val dir = Files.createTempDirectory("txmergerace").toString
    TxTable.commit((1L to 10L).map(i => (i, s"v$i")).toDF("id", "v"), dir,
      "overwrite", statsColumns = Seq("id"))
    val a = Seq((3L, "A", "UPDATE")).toDF("id", "v", "operation")
    val b = Seq((7L, "B", "UPDATE")).toDF("id", "v", "operation")
    val threads = Seq(a, b).map { ch =>
      new Thread(() => { TxTable.merge(s, dir, ch, Seq("id")); () })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    assert(TxTable.versions(dir) === Seq(0L, 1L, 2L),
      "the loser must retry against the winner's version, not overwrite it")
    val rows = TxTable.read(s, dir).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows(3L) === "A" && rows(7L) === "B", "both merges' effects survive")
    assert(rows.size === 10)
  }

  test("CDF round-trip: the change feed applied via merge reproduces the target version") {
    // the composition a downstream replica runs: read the feed from the
    // primary, apply it with merge — feed ops ARE merge ops
    val dir = Files.createTempDirectory("txroundtrip").toString
    TxTable.commit((1L to 20L).map(i => (i, s"v$i")).toDF("id", "v"), dir)
    TxTable.commit(
      ((3L to 18L).map(i => (i, if (i % 5 == 0) s"V$i" else s"v$i")) ++
        Seq((30L, "new"))).toDF("id", "v"), dir, "overwrite")
    val feed = TxTable.changeFeed(s, dir, 0L, 1L, Seq("id"))
      .withColumn("operation",
        when(col("change_type") === "delete", "DELETE")
          .when(col("change_type") === "insert", "INSERT")
          .otherwise("UPDATE"))
      .drop("change_type")
    val replica = Files.createTempDirectory("txreplica").toString
    TxTable.commit(TxTable.read(s, dir, Some(0L)), replica, "overwrite",
      statsColumns = Seq("id"))
    TxTable.merge(s, replica, feed, Seq("id"))
    val got = TxTable.read(s, replica).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    val want = TxTable.read(s, dir, Some(1L)).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got === want, "replica after applying the feed must equal the primary's v1")
  }

  test("changeFeedImages: image pairs drive incremental view maintenance ≡ recompute") {
    val dir = Files.createTempDirectory("txivm").toString
    // groups: segment -> balance; v1 moves key 2 BETWEEN groups, updates
    // 3 in place, deletes 4, inserts 5
    TxTable.commit(Seq(
      (1L, "A", 10.0), (2L, "A", 20.0), (3L, "B", 30.0), (4L, "B", 40.0))
      .toDF("id", "seg", "bal"), dir)
    TxTable.commit(Seq(
      (1L, "A", 10.0), (2L, "B", 20.0), (3L, "B", 35.0), (5L, "C", 50.0))
      .toDF("id", "seg", "bal"), dir, "overwrite")
    val imgs = TxTable.changeFeedImages(s, dir, 0L, 1L, Seq("id"))
    val byId = imgs.collect().map(r => r.getLong(0) ->
      (r.isNullAt(1), r.isNullAt(2), r.getString(3))).toMap
    assert(byId(2L) === ((false, false, "update")), "group move carries both images")
    assert(byId(4L) === ((false, true, "delete")), "delete has no new image")
    assert(byId(5L) === ((true, false, "insert")), "insert has no old image")
    assert(!byId.contains(1L), "unchanged keys emit nothing")
    // IVM: view(v0) + deltas(feed) must equal the straight recompute on v1
    import graft.apply.IncrementalAgg
    val view0 = IncrementalAgg.snapshotAgg(TxTable.read(s, dir, Some(0L)), "seg", "bal")
    val maintained = IncrementalAgg.maintain(view0, imgs, "seg", "bal")
      .orderBy("g_key").collect().map(r => (r.getString(0), r.getLong(1), r.getDecimal(2)))
    val recomputed = IncrementalAgg.snapshotAgg(TxTable.read(s, dir, Some(1L)), "seg", "bal")
      .orderBy("g_key").collect().map(r => (r.getString(0), r.getLong(1), r.getDecimal(2)))
    assert(maintained.toSeq === recomputed.toSeq,
      "maintained view must be EXACTLY the recompute (decimal arithmetic)")
  }

  test("clustered compaction: readPruned opens O(matching) files afterwards") {
    val dir = Files.createTempDirectory("txcluster").toString
    // keys land shuffled across commits -> every file's range spans the
    // whole key space -> stats skip nothing
    val rnd = new scala.util.Random(7)
    val shuffled = rnd.shuffle((1L to 400L).toVector)
    shuffled.grouped(100).zipWithIndex.foreach { case (ks, i) =>
      TxTable.commit(ks.map(k => (k, s"v$k")).toDF("id", "v"), dir,
        if (i == 0) "overwrite" else "append", statsColumns = Seq("id"))
    }
    def openedFiles(lo: Long, hi: Long): Int = {
      val snap = TxTable.latest(dir).get
      snap.filesOverlapping("id", lo, hi).size
    }
    val pre = openedFiles(10L, 20L)
    assert(pre >= 8, s"pre-clustering most files overlap (got $pre)")
    // cluster by id: 4 range-sorted files with disjoint key ranges
    TxTable.compact(s, dir, targetFiles = 4, clusterBy = Seq("id"))
    assert(openedFiles(10L, 20L) === 1, "post-clustering one file covers [10,20]")
    val pruned = TxTable.readPruned(s, dir, "id", 10L, 20L)
      .collect().map(_.getLong(0)).toSet
    assert(pruned === (10L to 20L).toSet, "pruned read is still exact")

    // 2-column z-order keeps BOTH dimensions skippable
    val dir2 = Files.createTempDirectory("txzorder").toString
    val grid = for { x <- 0L until 32L; y <- 0L until 32L } yield (x, y, s"$x/$y")
    TxTable.commit(rnd.shuffle(grid).toDF("x", "y", "v"), dir2, "overwrite",
      statsColumns = Seq("x", "y"))
    TxTable.compact(s, dir2, targetFiles = 16, clusterBy = Seq("x", "y"))
    val snap2 = TxTable.latest(dir2).get
    val xFiles = snap2.filesOverlapping("x", 0L, 7L).size
    val yFiles = snap2.filesOverlapping("y", 0L, 7L).size
    assert(xFiles < 16 && yFiles < 16,
      s"z-order must keep both dims skippable: x=$xFiles y=$yFiles of 16")
    assert(TxTable.readPruned(s, dir2, "x", 0L, 7L).count() === 8 * 32)
  }

  test("syncReplica: pull-based replication converges, replays are no-ops, gaps re-seed") {
    val primary = Files.createTempDirectory("txprim").toString
    val replica = Files.createTempDirectory("txrepl").toString
    def replicaState = TxTable.read(s, replica).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    def primaryState(v: Long) = TxTable.read(s, primary, Some(v)).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet

    TxTable.commit((1L to 10L).map(i => (i, s"v$i")).toDF("id", "v"), primary,
      "overwrite", statsColumns = Seq("id"))                       // v0
    assert(TxTable.syncReplica(s, primary, replica, Seq("id")) === 1, "bootstrap")
    assert(replicaState === primaryState(0L))

    TxTable.commit(Seq((11L, "new")).toDF("id", "v"), primary, "append",
      statsColumns = Seq("id"))                                    // v1
    TxTable.commit((2L to 11L).map(i => (i, s"w$i")).toDF("id", "v"), primary,
      "overwrite", statsColumns = Seq("id"))                       // v2
    assert(TxTable.syncReplica(s, primary, replica, Seq("id")) === 2,
      "two pending versions applied in one call")
    assert(replicaState === primaryState(2L))

    // crash-replay: nothing pending, nothing re-applied
    assert(TxTable.syncReplica(s, primary, replica, Seq("id")) === 0)
    assert(replicaState === primaryState(2L))

    // primary vacuums its history: the next version cannot be diffed
    // against its predecessor and must re-seed
    TxTable.commit(Seq((1L, "back")).toDF("id", "v"), primary, "append",
      statsColumns = Seq("id"))                                    // v3
    TxTable.vacuum(primary, keepVersions = 1, orphanGraceMs = 0L)  // only v3 left
    assert(TxTable.syncReplica(s, primary, replica, Seq("id")) === 1)
    assert(replicaState === primaryState(3L))

    // schema evolution rides a re-seed, not the feed
    TxTable.commit(Seq((12L, "s", 1.5)).toDF("id", "v", "score"), primary,
      "append", statsColumns = Seq("id"))                          // v4
    assert(TxTable.syncReplica(s, primary, replica, Seq("id")) === 1)
    assert(TxTable.read(s, replica).schema.fieldNames.toSeq === Seq("id", "v", "score"))
    assert(TxTable.read(s, replica).count() ===
      TxTable.read(s, primary, Some(4L)).count())
  }

  test("syncReplica after a replica vacuum applies only the new primary version") {
    val primary = Files.createTempDirectory("txprimvac").toString
    val replica = Files.createTempDirectory("txreplvac").toString
    def state(dir: String) = TxTable.read(s, dir).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    TxTable.commit((1L to 5L).map(i => (i, s"v$i")).toDF("id", "v"), primary,
      "overwrite", statsColumns = Seq("id"))                       // v0
    TxTable.merge(s, primary, Seq((3L, "a", "UPDATE"))
      .toDF("id", "v", "operation"), Seq("id"))                    // v1
    TxTable.merge(s, primary, Seq((3L, "b", "UPDATE"))
      .toDF("id", "v", "operation"), Seq("id"))                    // v2
    assert(TxTable.syncReplica(s, primary, replica, Seq("id")) === 3)
    // the replica keeps only its latest manifest (primary v2's stamp)
    TxTable.vacuum(replica, keepVersions = 1, orphanGraceMs = 0L)
    TxTable.commit(Seq((9L, "n")).toDF("id", "v"), primary, "append",
      statsColumns = Seq("id"))                                    // v3
    assert(TxTable.syncReplica(s, primary, replica, Seq("id")) === 1,
      "only v3 is pending: the carried ledger remembers v0..v2")
    assert(state(replica) === state(primary))
    assert(TxTable.appliedEpoch(replica, None) === 3L)
  }

  test("manifest round trip: snapshot(publish(x)) == x for every line kind") {
    import TxTable.{BloomRef, ColRange, Snapshot}
    val dir = Files.createTempDirectory("txroundtrip").toString
    Files.createDirectories(Paths.get(dir, "_txlog"))
    val f1 = "data/u1/part-00000-a.parquet"
    val f2 = "data/u2/part-00000-b.parquet"
    val x = Snapshot(0L, "merge",
      new org.apache.spark.sql.types.StructType()
        .add("id", org.apache.spark.sql.types.LongType, nullable = false)
        .add("v", org.apache.spark.sql.types.StringType),
      Seq(f2, f1), epoch = Some(7L),
      stats = Map(
        f1 -> Map("id" -> ColRange("long", "-5", "9"),
          "v" -> ColRange("string", "", "a|b")),
        f2 -> Map("v" -> ColRange("string", "", ""))),
      blooms = Map(f1 -> Map("id" -> BloomRef(1024, 3, "bloom/u1.bloom"))),
      dvs = Map(f1 -> "dv/u3.dv"),
      sizes = Map(f1 -> 1234L, f2 -> 0L),
      rows = Map(f1 -> 10L, f2 -> 0L),
      streamId = Some("w1"),
      txns = Map("w1" -> 7L, "" -> 3L, "w2" -> 11L))
    assert(TxTable.publishAt(dir, x))
    val back = TxTable.snapshot(dir, 0L)
    assert(back.commitTs > 0L, "the publish stamps its own wall-clock")
    assert(back === x.copy(commitTs = back.commitTs))
    assert(!TxTable.publishAt(dir, x), "the version is taken: CAS fails")
    // scoping: a stream honours its own mark and the unscoped one; an
    // unscoped reader honours every stream's
    assert(back.appliedEpoch(Some("w1")) === 7L)
    assert(back.appliedEpoch(Some("w3")) === 3L)
    assert(back.appliedEpoch(None) === 11L)
  }

  test("every commit kind carries the ledger forward") {
    val dir = Files.createTempDirectory("txledger").toString
    TxTable.commit((0L until 40L).map(i => (i, s"v$i")).toDF("id", "v")
      .repartition(4), dir,
      "overwrite", statsColumns = Seq("id"), epochId = Some(5L),
      streamId = Some("a"))
    TxTable.merge(s, dir, Seq((1L, "x", "UPDATE")).toDF("id", "v", "operation"),
      Seq("id"), epochId = Some(2L), writeMode = "mor", streamId = Some("b"))
    val ledger = Map("a" -> 5L, "b" -> 2L)
    TxTable.commit(Seq((50L, "n")).toDF("id", "v"), dir, "append",
      statsColumns = Seq("id"))
    TxTable.foldDvs(s, dir)
    TxTable.compactSmallFiles(s, dir, minBytes = 1L << 20)
    TxTable.compact(s, dir, 2, clusterBy = Seq("id"))
    TxTable.commit(Seq((60L, "o")).toDF("id", "v"), dir, "overwrite")
    val ops = TxTable.versions(dir).map(TxTable.snapshot(dir, _).op)
    assert(ops === Seq("overwrite", "merge", "append", "fold", "compact-small",
      "overwrite", "overwrite"))
    TxTable.versions(dir).drop(1).foreach { v =>
      assert(TxTable.snapshot(dir, v).txns === ledger, s"v$v lost the ledger")
    }
    TxTable.vacuum(dir, keepVersions = 1, orphanGraceMs = 0L)
    assert(TxTable.appliedEpoch(dir, Some("a")) === 5L)
    assert(TxTable.appliedEpoch(dir, None) === 5L)
  }

  test("history: one row per version with op, files, schema-change flag, epoch") {
    val dir = Files.createTempDirectory("txhist").toString
    TxTable.commit(Seq((1L, "a")).toDF("id", "v"), dir)                  // v0
    TxTable.commit(Seq((2L, "b", 1.5)).toDF("id", "v", "score"), dir,
      "append")                                                          // v1 evolves
    TxTable.commitStreaming(Seq((3L, "c", 2.5)).toDF("id", "v", "score"),
      dir, epochId = 7L)                                                 // v2 stamped
    TxTable.merge(s, dir, Seq((1L, "A", 0.0, "UPDATE"))
      .toDF("id", "v", "score", "operation"), Seq("id"))                 // v3
    val h = TxTable.history(s, dir).orderBy("version").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(3),
        if (r.isNullAt(4)) -1L else r.getLong(4), r.getBoolean(5)))
    assert(h.map(x => (x._1, x._2)).toSeq ===
      Seq((0L, "append"), (1L, "append"), (2L, "append"), (3L, "merge")))
    assert(h(0)._3 === 2 && h(1)._3 === 3, "column widths tracked")
    assert(h(1)._5 && !h(2)._5, "schema change flagged exactly where it happened")
    assert(h(2)._4 === 7L, "epoch stamp surfaces")
    // manifest-answered live row counts per version (round 10)
    val counts = TxTable.history(s, dir).orderBy("version").collect()
      .map(r => r.getLong(6))
    assert(counts.toSeq === Seq(1L, 2L, 3L, 3L),
      "n_rows tracks each version's live rows from the manifest")
    // vacuum shrinks history to retained versions
    TxTable.vacuum(dir, keepVersions = 2, orphanGraceMs = 0L)
    assert(TxTable.history(s, dir).collect().map(_.getLong(0)).toSet === Set(2L, 3L))
    // and it is reachable from SQL
    assert(s.sql(s"SELECT version, op FROM graft_tx_history('$dir')")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
      === Set((2L, "append"), (3L, "merge")))
  }

  test("merge with string keys that don't cast to long: stats prune must not lose changes") {
    val dir = Files.createTempDirectory("txmergestr").toString
    // stats on a STRING key column now record string-kind ranges (typed
    // stats), so pruning stays ACTIVE here — and must still never lose
    // a change on a key ("abc") the historical long-cast couldn't see
    TxTable.commit(Seq(("100", "a"), ("200", "b"), ("abc", "c"))
      .toDF("id", "v"), dir, "overwrite", statsColumns = Seq("id"))
    val changes = Seq(
      ("abc", null.asInstanceOf[String], "DELETE"),
      ("100", "A", "UPDATE")).toDF("id", "v", "operation")
    TxTable.merge(s, dir, changes, Seq("id"))
    val rows = TxTable.read(s, dir).collect()
      .map(r => (r.getString(0), r.getString(1))).toMap
    assert(!rows.contains("abc"), "DELETE of an uncastable key must not be lost")
    assert(rows("100") === "A" && rows.size === 2)

    // and the change feed classifies updates on non-numeric keys
    // correctly through its (string-typed) append-path base prune
    TxTable.commit(Seq(("abc", "back")).toDF("id", "v"), dir, "append",
      statsColumns = Seq("id"))
    val feed = TxTable.changeFeed(s, dir, 1L, 2L, Seq("id"))
      .collect().map(r => (r.getString(0), r.getString(2)))
    assert(feed.toSeq === Seq(("abc", "insert")),
      "uncastable delta key must still consult the (unprunable) base")
    TxTable.commit(Seq(("200", "B2")).toDF("id", "v"), dir, "append",
      statsColumns = Seq("id"))
    val feed2 = TxTable.changeFeed(s, dir, 2L, 3L, Seq("id"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
    assert(feed2.toSeq === Seq(("200", "B2", "update")))
  }

  test("clustered compaction skips on domains wider than the 16-bit lane") {
    val dir = Files.createTempDirectory("txzwide").toString
    // keys spread over [0, 1.3M): raw pmod-65536 interleaving would fold
    // k, k+65536, ... onto one lane value and destroy skipping
    val rnd = new scala.util.Random(11)
    val rows = (0 until 2048).map { _ =>
      (rnd.nextLong(1300000L), rnd.nextLong(1300000L), "p")
    }
    TxTable.commit(rows.toDF("x", "y", "v"), dir, "overwrite",
      statsColumns = Seq("x", "y"))
    TxTable.compact(s, dir, targetFiles = 16, clusterBy = Seq("x", "y"))
    val snap = TxTable.latest(dir).get
    val xF = snap.filesOverlapping("x", 0L, 162500L).size  // bottom eighth
    val yF = snap.filesOverlapping("y", 0L, 162500L).size
    assert(xF < 16 && yF < 16,
      s"wide-domain z-order must keep both dims skippable: x=$xF y=$yF of 16")
  }

  test("buildOnce: concurrent first callers block on the winner's build") {
    val started = new java.util.concurrent.CountDownLatch(1)
    val release = new java.util.concurrent.CountDownLatch(1)
    val builds = new java.util.concurrent.atomic.AtomicInteger(0)
    val sawComplete = new java.util.concurrent.atomic.AtomicBoolean(false)
    val name = s"race-${System.nanoTime()}"
    val winner = new Thread(() => Fixtures.buildOnce(name, s, "/tmp/x") {
      builds.incrementAndGet(); started.countDown(); release.await(); ()
    })
    winner.start()
    started.await()
    val loser = new Thread(() => {
      // must BLOCK until the winner finishes, then see a built artifact
      Fixtures.buildOnce(name, s, "/tmp/x") { builds.incrementAndGet(); () }
      sawComplete.set(true)
    })
    loser.start()
    Thread.sleep(200)
    assert(!sawComplete.get, "loser must wait while the winner builds")
    release.countDown()
    winner.join(); loser.join()
    assert(sawComplete.get)
    assert(builds.get === 1, "the build body runs exactly once")
  }

  test("config-driven TxTable source/sink: the S11 switch reaches the ACID table") {
    import graft.sources.{CdcSource, TxTableSink}
    val dir = Files.createTempDirectory("txs11").toString
    val sink = TxTableSink(dir, "append", statsColumns = Seq("id"))
    sink.save(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))   // v0
    sink.save(Seq((3L, "c")).toDF("id", "v"))              // v1
    val latest = CdcSource.forConfig("txtable", dir).load(s)
    assert(latest.collect().map(_.getLong(0)).toSet === Set(1L, 2L, 3L))
    // `table` doubles as the pinned version for time travel
    val v0 = CdcSource.forConfig("txtable", dir, table = "0").load(s)
    assert(v0.collect().map(_.getLong(0)).toSet === Set(1L, 2L))
    assert(TxTable.versions(dir) === Seq(0L, 1L))
  }

  test("merge rejects a batch with duplicate keys") {
    val dir = Files.createTempDirectory("txmergedup").toString
    TxTable.commit(Seq((1L, "a")).toDF("id", "v"), dir)
    val dup = Seq((1L, "x", "UPDATE"), (1L, "y", "UPDATE"))
      .toDF("id", "v", "operation")
    val e = intercept[IllegalArgumentException] {
      TxTable.merge(s, dir, dup, Seq("id"))
    }
    assert(e.getMessage.contains("one change row per key"))
  }

  test("CDC target with history: each applied batch is a version, time travel replays state") {
    val dir = Files.createTempDirectory("txcdc").toString
    val base = Seq((1L, "A", 10.0), (2L, "B", 20.0), (3L, "C", 30.0))
      .toDF("k", "status", "price")
    TxTable.commit(base, dir) // v0: initial snapshot

    // batch 1: update key 2, delete key 3 — the applied state is the new
    // FULL snapshot (overwrite), exactly how ChangeApplier's output lands
    val applied1 = Seq((1L, "A", 10.0), (2L, "B2", 25.0)).toDF("k", "status", "price")
    TxTable.commit(applied1, dir, "overwrite") // v1
    // batch 2: insert key 4
    val applied2 = applied1.unionByName(Seq((4L, "D", 40.0)).toDF("k", "status", "price"))
    TxTable.commit(applied2, dir, "overwrite") // v2

    assert(TxTable.read(s, dir).select("k").collect().map(_.getLong(0)).toSet
      === Set(1L, 2L, 4L))
    // "what did the target look like before batch 1?" — one read
    val before = TxTable.read(s, dir, Some(0L)).orderBy("k").collect()
    assert(before.map(_.getLong(0)).toSeq === Seq(1L, 2L, 3L))
    assert(before(1).getString(1) === "B")
  }

  test("typed stats: string-keyed table keeps file skipping ACTIVE") {
    val dir = Files.createTempDirectory("txstrstats").toString
    // three lexicographically disjoint batches -> disjoint string ranges
    TxTable.commit(Seq(("alpha", 1L), ("baker", 2L)).toDF("k", "n"), dir,
      "overwrite", statsColumns = Seq("k"))
    TxTable.commit(Seq(("mike", 3L), ("nancy", 4L)).toDF("k", "n"), dir,
      "append", statsColumns = Seq("k"))
    TxTable.commit(Seq(("xray", 5L), ("zulu", 6L)).toDF("k", "n"), dir,
      "append", statsColumns = Seq("k"))
    val snap = TxTable.latest(dir).get
    assert(snap.stats.nonEmpty &&
      snap.stats.values.forall(_.get("k").forall(_.kind == "string")))
    val midFiles = snap.filesOverlappingString("k", "m", "p")
    assert(midFiles.nonEmpty && midFiles.size < snap.files.size,
      s"string skipping must be active: kept ${midFiles.size} of ${snap.files.size}")
    val pruned = TxTable.readPrunedString(s, dir, "k", "m", "p")
    assert(pruned.inputFiles.length === midFiles.size)
    // pruned read == filtered full read, exactly
    val full = TxTable.read(s, dir).where(col("k") >= "m" && col("k") <= "p")
    assert(pruned.collect().map(r => (r.getString(0), r.getLong(1))).sorted.toSeq
      === full.collect().map(r => (r.getString(0), r.getLong(1))).sorted.toSeq)
    assert(pruned.collect().map(_.getString(0)).toSet === Set("mike", "nancy"))
  }

  test("typed stats: merge on a string key prunes and rewrites only hit files") {
    val dir = Files.createTempDirectory("txstrmerge").toString
    TxTable.commit(Seq(("alpha", "a"), ("baker", "b")).toDF("id", "v"), dir,
      "overwrite", statsColumns = Seq("id"))
    TxTable.commit(Seq(("xray", "x"), ("zulu", "z")).toDF("id", "v"), dir,
      "append", statsColumns = Seq("id"))
    val before = TxTable.latest(dir).get
    val alphaFiles = before.filesOverlappingString("id", "alpha", "alpha").toSet
    val carried = before.files.toSet -- alphaFiles
    assume(alphaFiles.nonEmpty && carried.nonEmpty)
    TxTable.merge(s, dir,
      Seq(("alpha", "A", "UPDATE")).toDF("id", "v", "operation"), Seq("id"))
    val after = TxTable.latest(dir).get
    assert(carried.subsetOf(after.files.toSet),
      "files outside the touched string range must carry forward by reference")
    assert(alphaFiles.intersect(after.files.toSet).isEmpty,
      "hit files must be rewritten")
    val rows = TxTable.read(s, dir).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(rows === Map("alpha" -> "A", "baker" -> "b",
      "xray" -> "x", "zulu" -> "z"))
  }

  test("typed stats: date keys canonicalize to epoch days and prune") {
    val dir = Files.createTempDirectory("txdatestats").toString
    val jan = Seq("2024-01-01", "2024-01-15").toDF("d")
      .select(to_date(col("d")).as("d"))
    val jun = Seq("2024-06-01", "2024-06-15").toDF("d")
      .select(to_date(col("d")).as("d"))
    TxTable.commit(jan.coalesce(1), dir, "overwrite", statsColumns = Seq("d"))
    TxTable.commit(jun.coalesce(1), dir, "append", statsColumns = Seq("d"))
    val snap = TxTable.latest(dir).get
    assert(snap.stats.values.forall(_.get("d").forall(_.kind == "long")))
    val lo = java.time.LocalDate.parse("2024-05-01").toEpochDay
    val hi = java.time.LocalDate.parse("2024-07-01").toEpochDay
    val kept = snap.filesOverlapping("d", lo, hi)
    assert(kept.size === 1, s"June range must open only the June file: $kept")
  }

  test("typed stats: manifest round-trips delimiter-hostile string bounds") {
    val dir = Files.createTempDirectory("txstrhostile").toString
    TxTable.commit(Seq(("a|b\nc", 1L), ("z|9", 2L)).toDF("k", "n").coalesce(1),
      dir, "overwrite", statsColumns = Seq("k"))
    val r = TxTable.latest(dir).get.stats.values.flatMap(_.get("k")).toSeq
    assert(r === Seq(TxTable.ColRange("string", "a|b\nc", "z|9")),
      s"base64 must shield '|' and newlines in bounds: $r")
  }

  test("utf8Cmp orders like Spark strings, not like Java compareTo") {
    // U+1F600 is UTF-8 F0 9F 98 80 (sorts HIGH) but UTF-16 surrogate
    // D83D DE00 (sorts below U+FFFD under Java's compareTo)
    val emoji = "😀"
    assert(TxTable.utf8Cmp(emoji, "�") > 0)
    assert(emoji.compareTo("�") < 0, "Java order differs by design")
    assert(TxTable.utf8Cmp("abc", "abd") < 0)
    assert(TxTable.utf8Cmp("ab", "abc") < 0)
    assert(TxTable.utf8Cmp("abc", "abc") === 0)
  }

  test("z-order compaction with a STRING dimension keeps both dims skippable") {
    val dir = Files.createTempDirectory("txzstr").toString
    val rnd = new scala.util.Random(7)
    val rows = (0 until 2048).map { _ =>
      val s = "" + ('a' + rnd.nextInt(26)).toChar + ('a' + rnd.nextInt(26)).toChar +
        ('a' + rnd.nextInt(26)).toChar
      (s, rnd.nextLong(100000L), "p")
    }
    TxTable.commit(rows.toDF("s", "x", "v"), dir, "overwrite",
      statsColumns = Seq("s", "x"))
    TxTable.compact(s, dir, targetFiles = 16, clusterBy = Seq("s", "x"))
    val snap = TxTable.latest(dir).get
    // both dimensions must skip: the string dim lanes on its UTF-8
    // prefix (a lane-0 constant would leave every file spanning a..z)
    val sF = snap.filesOverlappingString("s", "aaa", "dzz").size // bottom ~4/26
    val xF = snap.filesOverlapping("x", 0L, 12500L).size         // bottom eighth
    assert(sF < 16 && xF < 16,
      s"string z-order must keep both dims skippable: s=$sF x=$xF of 16")
    // and a pruned string read equals the filtered read
    val pruned = TxTable.readPrunedString(s, dir, "s", "aaa", "dzz")
    val full = TxTable.read(s, dir).where(col("s") >= "aaa" && col("s") <= "dzz")
    assert(pruned.count() === full.count())
  }

  test("compact: a concurrent append is never lost (CAS publish)") {
    val dir = Files.createTempDirectory("txcompactrace").toString
    TxTable.commit((1L to 20000L).map(i => (i, s"v$i")).toDF("id", "v"), dir,
      "overwrite", statsColumns = Seq("id"))
    val appender = new Thread(() => {
      Thread.sleep(150)
      TxTable.commit(Seq((-1L, "late")).toDF("id", "v"), dir, "append",
        statsColumns = Seq("id"))
      ()
    })
    appender.start()
    TxTable.compact(s, dir, targetFiles = 2)
    appender.join()
    // whichever interleaving occurred (before the read, during the
    // rewrite — the old lost-race window — or after the publish), the
    // appended row must be in the final version
    val ids = TxTable.read(s, dir).select("id").collect().map(_.getLong(0)).toSet
    assert(ids.contains(-1L), "concurrent append lost by compaction")
    assert(ids.size === 20001, "compaction must preserve every base row")
  }

  test("vacuum: orphan sweep handles nested _temporary subtrees") {
    val dir = Files.createTempDirectory("txorphannest").toString
    TxTable.commit(Seq((1L, "a")).toDF("id", "v"), dir)
    // a writer that crashed mid df.write.parquet leaves a nested tree
    val orphan = Paths.get(dir, "data/orphan-crashed/_temporary/0")
    Files.createDirectories(orphan)
    Files.writeString(orphan.resolve("task-attempt.parquet"), "junk")
    // backdate past any grace window (mtime == cutoff millisecond is
    // not "< cutoff", so a same-ms vacuum would skip it — flaky at 0)
    Files.setLastModifiedTime(Paths.get(dir, "data/orphan-crashed"),
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 10000L))
    TxTable.vacuum(dir, keepVersions = 1, orphanGraceMs = 1000L)
    assert(!Files.exists(Paths.get(dir, "data/orphan-crashed")),
      "nested orphan must be swept recursively")
    assert(TxTable.read(s, dir).count() === 1L, "committed data untouched")
  }

  test("bloom point lookup: skips files, result equals the filtered read") {
    val dir = Files.createTempDirectory("txbloom").toString
    // 4 files range-clustered by id; k scatters, so RANGE stats on k
    // can't skip anything — exactly the gap blooms exist to fill
    val df = (0L until 4000L).map(i => (i, i % 997L, s"p$i")).toDF("id", "k", "p")
    TxTable.commit(df.repartitionByRange(4, col("id")).sortWithinPartitions(col("id")),
      dir, "overwrite", statsColumns = Seq("id"),
      bloomColumns = Seq("k"), bloomBits = 1 << 16)
    val snap = TxTable.latest(dir).get
    assert(snap.blooms.nonEmpty && snap.blooms.size === snap.files.size,
      "every file carries a bloom entry for k")
    // a value beyond the data's key space: every file should be skipped
    val none = graft.sources.TxTable.filesForPoint(dir, snap, "k", "123456789")
    assert(none.isEmpty, s"absent key must probe out of every file, kept $none")
    // a present value: correct rows, and never more files than the table
    val hit = TxTable.readPointLookupLong(s, dir, "k", 5L)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(hit === (0L until 4000L).filter(_ % 997L == 5L).toSet)
    // a column without bloom entries keeps all files (sound fallback)
    assert(graft.sources.TxTable.filesForPoint(dir, snap, "p", "p77").size
      === snap.files.size)
    // string lookups probe the same canonical repr
    val sHit = TxTable.readPointLookupString(s, dir, "p", "p77")
      .select("id").collect().map(_.getLong(0)).toSet
    assert(sHit === Set(77L))
  }

  test("bloom entries: append carries forward, merge rebuilds rewritten files") {
    val dir = Files.createTempDirectory("txbloomm").toString
    TxTable.commit((0L until 1000L).map(i => (i, s"v$i")).toDF("id", "v")
        .repartitionByRange(2, col("id")).sortWithinPartitions(col("id")),
      dir, "overwrite", statsColumns = Seq("id"), bloomColumns = Seq("id"))
    // append WITHOUT blooms: its files simply lack entries (always read)
    TxTable.commit((5000L until 5100L).map(i => (i, s"v$i")).toDF("id", "v"),
      dir, "append")
    val s1 = TxTable.latest(dir).get
    assert(s1.blooms.size === 2, "base bloom entries carry through the append")
    val kept = graft.sources.TxTable.filesForPoint(dir, s1, "id", "999999")
    assert(kept.size === s1.files.size - 2,
      "bloomed base files skip; the bloom-less append files stay")
    // merge rewrites one file; its rewritten output re-records blooms
    val ch = Seq((7L, "upd", "UPDATE")).toDF("id", "v", "operation")
    TxTable.merge(s, dir, ch, Seq("id"))
    val s2 = TxTable.latest(dir).get
    val rewritten = s2.files.toSet -- s1.files.toSet
    assert(rewritten.nonEmpty &&
      rewritten.forall(f => s2.blooms.get(f).exists(_.contains("id"))),
      "merge must re-establish bloom entries on rewritten files")
    assert(TxTable.readPointLookupLong(s, dir, "id", 7L)
      .select("v").collect().map(_.getString(0)).toSeq === Seq("upd"))
    // compact rebuilds blooms for the whole table
    TxTable.compact(s, dir, targetFiles = 1)
    val s3 = TxTable.latest(dir).get
    assert(s3.files.forall(f => s3.blooms.get(f).exists(_.contains("id"))))
    assert(TxTable.readPointLookupLong(s, dir, "id", 5007L).count() === 1L)
  }

  test("bloom point lookup: kind-mismatched probes never prune (coercion safety)") {
    val dir = Files.createTempDirectory("txbloomc").toString
    // "037" and "37" share no bloom bits, but `v = 37` COERCES and
    // matches both — a repr-based skip would silently drop the "037" row
    TxTable.commit(Seq((1L, "037"), (2L, "37")).toDF("id", "v"), dir,
      "overwrite", bloomColumns = Seq("id", "v"))
    val hits = TxTable.readPointLookupLong(s, dir, "v", 37L)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(hits === Set(1L, 2L),
      "kind mismatch must fall back to all files, keeping coercion matches")
    val h2 = TxTable.readPointLookupString(s, dir, "id", "2")
      .select("id").collect().map(_.getLong(0)).toSet
    assert(h2 === Set(2L))
    // matched kinds still prune: absent long key probes out of all files
    assert(graft.sources.TxTable.filesForPoint(
      dir, TxTable.latest(dir).get, "id", "424242").isEmpty)
  }

  test("fold → vacuum cycle leaves no unreferenced file on disk (full directory census)") {
    val dir = Files.createTempDirectory("txcensus").toString
    TxTable.commit(
      s.range(0, 40).select(col("id"), concat(lit("v"), col("id")).as("v"))
        .repartitionByRange(4, col("id")).sortWithinPartitions(col("id")),
      dir, "overwrite", statsColumns = Seq("id"), bloomColumns = Seq("v"))
    // two stacked MoR merges: DV sidecars accumulate across versions
    TxTable.merge(s, dir,
      Seq((5L, "V5", "UPDATE"), (17L, null.asInstanceOf[String], "DELETE"))
        .toDF("id", "v", "operation"), Seq("id"), writeMode = "mor")
    TxTable.merge(s, dir,
      Seq((23L, null.asInstanceOf[String], "DELETE"), (31L, "V31", "UPDATE"))
        .toDF("id", "v", "operation"), Seq("id"), writeMode = "mor")
    assert(TxTable.latest(dir).get.dvs.nonEmpty, "fixture must carry DVs")
    val dvRoot = Paths.get(dir, "_txlog/dv")
    val dvBefore = Files.list(dvRoot).count()
    assert(dvBefore > 0)
    // fold rewrites the DV'd files: the new head references NO sidecar,
    // but history still does — vacuum, not fold, owns their deletion
    TxTable.foldDvs(s, dir)
    assert(TxTable.latest(dir).get.dvs.isEmpty, "fold must clear the DV tier")
    assert(Files.list(dvRoot).count() === dvBefore,
      "superseded sidecars stay until their referencing versions expire")
    // expire history: backdate every file past the grace window, keep 1
    import scala.jdk.CollectionConverters._
    val allWalk = Files.walk(Paths.get(dir))
    try allWalk.iterator().asScala.filter(Files.isRegularFile(_)).foreach(p =>
      Files.setLastModifiedTime(p, java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 10000L)))
    finally allWalk.close()
    TxTable.vacuum(dir, keepVersions = 1, orphanGraceMs = 1000L)
    // census: every regular file still on disk must be accounted for by
    // the retained manifest — data files, live sidecars, the manifest
    // itself, or parquet's _SUCCESS job marker inside a referenced
    // commit dir. Anything else is a retention leak.
    val retained = TxTable.versions(dir)
    assert(retained.size === 1)
    val snaps = retained.map(v => TxTable.snapshot(dir, v))
    val refData = snaps.flatMap(_.files).toSet
    val refSidecars = snaps.flatMap(sn => sn.dvs.values ++
      sn.blooms.values.flatMap(_.values.map(_.sidecar))).toSet
    val refManifests = retained.map(v => s"_txlog/v$v.manifest").toSet
    val refDataDirs = refData.map(f => f.split('/').take(2).mkString("/"))
    val walk2 = Files.walk(Paths.get(dir))
    val leftover =
      try walk2.iterator().asScala.filter(Files.isRegularFile(_))
        .map(p => Paths.get(dir).relativize(p).toString).toList
      finally walk2.close()
    // a referenced data file legitimately keeps its committer crumbs
    // (hidden .crc sibling; _SUCCESS + its crc in its commit dir) — but
    // ONLY inside a commit dir some retained manifest still points at
    def crcOwner(rel: String): String = {
      val slash = rel.lastIndexOf('/')
      val name = rel.substring(slash + 1)
      rel.substring(0, slash + 1) +
        name.stripPrefix(".").stripSuffix(".crc")
    }
    val unreferenced = leftover.filterNot { rel =>
      val inRefDir = refDataDirs(rel.split('/').take(2).mkString("/"))
      refData(rel) ||
        refManifests(rel) ||
        (rel.startsWith("_txlog/") && refSidecars(rel.stripPrefix("_txlog/"))) ||
        (rel.endsWith("_SUCCESS") && inRefDir) ||
        (rel.endsWith(".crc") && inRefDir &&
          (refData(crcOwner(rel)) || crcOwner(rel).endsWith("_SUCCESS")))
    }
    assert(unreferenced.isEmpty,
      s"files survived vacuum with no retained reference:\n  ${unreferenced.mkString("\n  ")}")
    // all DV sidecars were superseded by the fold, so the sweep must
    // have taken every one of them
    assert(!Files.isDirectory(dvRoot) || Files.list(dvRoot).count() === 0L,
      "folded-away DV sidecars must not outlive their versions")
    // and the surviving table is still the right table
    assert(TxTable.read(s, dir).count() === 38L) // 40 - 2 deletes
    assert(TxTable.read(s, dir).where(col("id") === 5L)
      .collect()(0).getString(1) === "V5")
  }

  test("vacuum retires bloom sidecars only when no retained manifest references them") {
    val dir = Files.createTempDirectory("txbloomv").toString
    // string-typed bloom column: the canonical repr is the raw string
    TxTable.commit(Seq((1L, "a")).toDF("id", "v"), dir, "overwrite",
      bloomColumns = Seq("v"))
    TxTable.commit(Seq((2L, "b")).toDF("id", "v"), dir, "overwrite",
      bloomColumns = Seq("v"))
    val bloomRoot = Paths.get(dir, "_txlog/bloom")
    val before = Files.list(bloomRoot).count()
    assert(before === 2L)
    val snap = TxTable.latest(dir).get
    assert(graft.sources.TxTable.filesForPoint(dir, snap, "v", "zz").isEmpty,
      "absent string key must probe out of every file")
    // backdate sidecars past the grace window, then retire version 0
    Files.list(bloomRoot).forEach(p => Files.setLastModifiedTime(p,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 10000L)))
    TxTable.vacuum(dir, keepVersions = 1, orphanGraceMs = 1000L)
    assert(Files.list(bloomRoot).count() === 1L,
      "v0's sidecar is unreferenced and expired; v1's must survive")
    assert(TxTable.readPointLookupString(s, dir, "v", "b").count() === 1L)
  }

  test("point lookup prunes by stats before Blooms: a saturated Bloom still opens one file") {
    val dir = Files.createTempDirectory("txlookupstats").toString
    // 4 range-clustered files of 250 keys each under a 32-bit Bloom: every
    // file's filter is saturated, so only the ranges can skip
    TxTable.commit((0L until 1000L).map(i => (i, s"v$i")).toDF("id", "v")
        .repartitionByRange(4, col("id")).sortWithinPartitions(col("id")),
      dir, "overwrite", statsColumns = Seq("id"), bloomColumns = Seq("id"),
      bloomBits = 32)
    val snap = TxTable.latest(dir).get
    assert(snap.files.size === 4)
    assert(graft.sources.TxTable.filesForPoint(dir, snap, "id", "5000").size === 4,
      "a 32-bit Bloom over 250 keys admits every probe")
    def opened(v: Long) = TxTable.readPointLookupLong(s, dir, "id", v).inputFiles.toSet
    assert(opened(5000L).isEmpty, "a key outside every range opens no file")
    assert(TxTable.readPointLookupLong(s, dir, "id", 5000L).count() === 0L)
    val inside = opened(600L)
    assert(inside.size === 1, s"a key inside one range opens only that file: $inside")
    assert(TxTable.readPointLookupLong(s, dir, "id", 600L)
      .select("v").collect().map(_.getString(0)).toSeq === Seq("v600"))
  }

  test("merge rejects a batch with two NULL-keyed change rows") {
    val dir = Files.createTempDirectory("txmergenull").toString
    TxTable.commit(Seq((1L, "a")).toDF("id", "v"), dir)
    // NULLs group together: two null-keyed rows are one key twice
    val dup = Seq((None: Option[Long], "x", "UPDATE"), (None, "y", "DELETE"))
      .toDF("id", "v", "operation")
    val e = intercept[IllegalArgumentException] {
      TxTable.merge(s, dir, dup, Seq("id"))
    }
    assert(e.getMessage.contains("one change row per key"))
    // composite keys: (NULL, 1) twice is a duplicate, (NULL, 1) and
    // (NULL, 2) are distinct keys
    val cdir = Files.createTempDirectory("txmergenull2").toString
    TxTable.commit(Seq((Some(1L), 1L, "a")).toDF("a", "b", "v"), cdir)
    val cdup = Seq((None: Option[Long], 1L, "x", "INSERT"), (None, 1L, "y", "INSERT"))
      .toDF("a", "b", "v", "operation")
    intercept[IllegalArgumentException](TxTable.merge(s, cdir, cdup, Seq("a", "b")))
    assert(TxTable.versions(cdir).size === 1, "a rejected batch must not commit")
    val ok = Seq((None: Option[Long], 1L, "x", "INSERT"), (None, 2L, "y", "INSERT"))
      .toDF("a", "b", "v", "operation")
    TxTable.merge(s, cdir, ok, Seq("a", "b"))
    assert(TxTable.read(s, cdir).count() === 3L)
  }

  /** The Bloom build as it was before the one-pass builder: explode one
    * (column, position) pair per hash, aggregate `bit_or` words by
    * (file, column, word index), and lay out one sidecar line per
    * (column, file). Kept here as the oracle the engine's builder must
    * reproduce byte for byte. Integral and string columns only.
    */
  private def bloomSidecarOracle(dir: String, commitRel: String,
      spec: Seq[(String, Int, Int)]): String = {
    import graft.ext.PortableHash
    val written = s.read.parquet(s"$dir/$commitRel")
    val eligible = spec.sortBy(_._1)
    val P = PortableHash.P
    val staged = written.select(
      input_file_name().as("__f") +: eligible.map { case (c, _, _) =>
        val canon =
          if (written.schema(c).dataType == org.apache.spark.sql.types.StringType) col(c)
          else col(c).cast("long")
        pmod(PortableHash.hash32(canon.cast("string")), lit(P)).as(s"__x_$c")
      }: _*)
    val posStructs = eligible.flatMap { case (c, mBits, k) =>
      PortableHash.minhashAB(k).map { case (a, b) =>
        struct(lit(c).as("c"),
          (pmod(col(s"__x_$c") * lit(a) + lit(b), lit(P)) % mBits).as("pos"))
      }
    }
    val words = staged
      .select(col("__f"), explode(array(posStructs: _*)).as("__cp"))
      .filter(col("__cp.pos").isNotNull)
      .groupBy(col("__f"), col("__cp.c").as("__c"),
        expr("__cp.pos div 32").as("__w"))
      .agg(expr(
        "bit_or(shiftleft(CAST(1 AS BIGINT), CAST(__cp.pos % 32 AS INT)))")
        .as("__wv"))
      .collect()
    val byFileCol = words.groupBy { r =>
      val fname = r.getString(0)
      (s"$commitRel/${fname.substring(fname.lastIndexOf('/') + 1)}", r.getString(1))
    }
    val newFiles = {
      val it = Files.list(Paths.get(dir, commitRel))
      try it.iterator().asScala.map(_.getFileName.toString)
        .filter(n => n.startsWith("part-") && n.endsWith(".parquet"))
        .map(n => s"$commitRel/$n").toSeq.sorted
      finally it.close()
    }
    eligible.flatMap { case (c, mBits, _) =>
      newFiles.map { rel =>
        val arr = new Array[Long](mBits / 32)
        byFileCol.getOrElse((rel, c), Array.empty).foreach { r =>
          arr(r.getLong(2).toInt) = r.getLong(3)
        }
        s"$rel|$c|${arr.mkString(",")}"
      }
    }.mkString("", "\n", "\n")
  }

  /** Every Bloom sidecar `snap` references equals the oracle's text for
    * its commit. Returns the number of sidecars checked.
    */
  private def assertSidecarsMatchOracle(dir: String, snap: TxTable.Snapshot): Int = {
    val bySidecar = snap.blooms.toSeq.flatMap { case (f, cols) =>
      cols.map { case (c, r) => (r.sidecar, f, c, r.mBits, r.k) }
    }.groupBy(_._1)
    bySidecar.foreach { case (sidecar, entries) =>
      val commitRel = entries.head._2.split('/').take(2).mkString("/")
      assert(sidecar === s"bloom/${commitRel.stripPrefix("data/")}.bloom")
      val spec = entries.map(e => (e._3, e._4, e._5)).distinct
      val actual = new String(Files.readAllBytes(Paths.get(dir, "_txlog", sidecar)),
        java.nio.charset.StandardCharsets.UTF_8)
      assert(actual === bloomSidecarOracle(dir, commitRel, spec),
        s"sidecar $sidecar differs from the aggregate formulation")
    }
    bySidecar.size
  }

  test("bloom sidecars: the one-pass builder is byte-identical to the aggregate oracle") {
    val dir = Files.createTempDirectory("txbloomeq").toString
    // long and string bloom columns, null values in both, three files
    val rows = (0L until 600L).map { i =>
      (if (i % 37L == 5L) None else Some(i * 7919L % 1201L),
        if (i % 41L == 3L) None else Some(s"name-${i % 173L}"), i)
    }
    val df = rows.toDF("k", "name", "seq")
    TxTable.commit(df.repartitionByRange(3, col("seq")), dir, "overwrite",
      statsColumns = Seq("seq"), bloomColumns = Seq("k", "name"),
      bloomBits = 1 << 10, bloomK = 3)
    val s0 = TxTable.latest(dir).get
    assert(s0.files.size === 3)
    assert(assertSidecarsMatchOracle(dir, s0) === 1)
    // a merge rebuilds the rewritten files' sidecar at the table geometry
    val ch = Seq((Some(5L), Some("upd"), 4L, "UPDATE"),
        (Some(-1L), Some("new"), 9000L, "INSERT"),
        (None: Option[Long], None: Option[String], 9001L, "INSERT"),
        (None: Option[Long], None: Option[String], 100L, "DELETE"))
      .toDF("k", "name", "seq", "operation")
    TxTable.merge(s, dir, ch, Seq("seq"))
    val s1 = TxTable.latest(dir).get
    assert(s1.files.toSet != s0.files.toSet, "the merge must rewrite a file")
    assert(assertSidecarsMatchOracle(dir, s1) === 2)
    // lookups through the sidecars equal the filtered read
    val all = TxTable.read(s, dir)
    Seq(0L, 7919L % 1201L, -1L, 424242L).foreach { v =>
      assert(TxTable.readPointLookupLong(s, dir, "k", v).select("seq")
        .collect().map(_.getLong(0)).sorted.toSeq ===
        all.where(col("k") === v).select("seq").collect().map(_.getLong(0)).sorted.toSeq,
        s"point lookup k=$v")
    }
    Seq("name-0", "name-172", "upd", "new", "absent").foreach { v =>
      assert(TxTable.readPointLookupString(s, dir, "name", v).select("seq")
        .collect().map(_.getLong(0)).sorted.toSeq ===
        all.where(col("name") === v).select("seq").collect().map(_.getLong(0)).sorted.toSeq,
        s"point lookup name=$v")
    }
    // the driver-side probe hash is the hex-digit parse Spark's hash32 does
    Seq("", "0", "-1", "name-5", "é中").foreach { v =>
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(v.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        .map(b => f"$b%02x").mkString
      assert(TxTable.hash32Jvm(v) === java.lang.Long.parseLong(hex.substring(0, 8), 16))
    }
  }

  test("job-count guard: a small copy-on-write merge and a bloom commit stay lean") {
    val dir = Files.createTempDirectory("txjobs").toString
    val base = (0L until 400L).map(i => (i, s"v$i")).toDF("id", "v")
      .repartitionByRange(4, col("id"))
    // schema inference shows up as a job whose call site is the reader
    def inferJobs(js: Seq[(String, String)]) = js.filter(_._2.contains("DataFrameReader"))
    val commitJobs = jobsDuring {
      TxTable.commit(base, dir, "overwrite", statsColumns = Seq("id"),
        bloomColumns = Seq("id", "v"))
    }
    assert(inferJobs(commitJobs).isEmpty,
      s"bloom commit ran a schema-inference job: ${commitJobs.map(_._1)}")
    val ch = Seq((3L, "x", "UPDATE"), (250L, "y", "DELETE"), (-5L, "z", "INSERT"))
      .toDF("id", "v", "operation")
    val mergeJobs = jobsDuring(TxTable.merge(s, dir, ch, Seq("id")))
    assert(inferJobs(mergeJobs).isEmpty,
      s"merge ran a schema-inference job: ${mergeJobs.map(_._1)}")
    // 2 = the touched keys' broadcast and the data write: a local change
    // set is read with no job, the stats and Blooms pick the hit files,
    // and the writer records stats and Blooms, so no job follows it
    assert(mergeJobs.size <= 2, s"merge ran ${mergeJobs.size} jobs: ${mergeJobs.map(_._1)}")
    assert(TxTable.read(s, dir).count() === 400L)
    // the detector is not vacuous: an inferring read IS seen
    assert(inferJobs(jobsDuring(s.read.parquet(s"$dir/${TxTable.latest(dir).get.files.head}")))
      .nonEmpty)
  }

  test("job-count guard: a small merge into a Bloom-keyed table scans no candidate before the write") {
    val dir = Files.createTempDirectory("txjobsbloom").toString
    TxTable.commit((0L until 2000L).map(i => (i, s"v$i")).toDF("id", "v")
        .repartitionByRange(8, col("id")).sortWithinPartitions(col("id")),
      dir, "overwrite", statsColumns = Seq("id"), bloomColumns = Seq("id"),
      bloomBits = 1 << 16)
    val base = TxTable.latest(dir).get.files
    // a change set read from files and deduplicated, as a stream hands it
    val logDir = Files.createTempDirectory("txjobsbloomlog").toString
    Seq((3L, "x", "UPDATE", 1L), (3L, "y", "UPDATE", 2L), (1250L, "z", "DELETE", 3L),
        (-5L, "n", "INSERT", 4L)).toDF("id", "v", "operation", "seq")
      .write.mode("overwrite").parquet(logDir)
    val ch = s.read.parquet(logDir)
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("id").orderBy(col("seq").desc)))
      .where(col("rn") === 1).drop("rn", "seq")
    val (jobs, scans) = jobsAndScansDuring(TxTable.merge(s, dir, ch, Seq("id")))
    // the change set's read and dedup (2), the touched keys' broadcast and
    // the data write: the hit files come from the stats and the Bloom
    assert(jobs.size <= 4, s"merge ran ${jobs.size} jobs: ${jobs.map(_._1)}")
    // the base files are scanned once, by the write's own query
    val baseScans = scans.filter(l => base.exists(f => l.contains(f.split('/')(1))))
    assert(baseScans.size === 1, s"a query before the write scanned the base: $baseScans")
    assert(TxTable.read(s, dir).select("id", "v").as[(Long, String)].collect().toMap ===
      ((0L until 2000L).map(i => i -> s"v$i").toMap - 1250L + (3L -> "y") + (-5L -> "n")))
    val rewritten = base.toSet -- TxTable.latest(dir).get.files
    assert(rewritten.size === 2, s"only the files holding 3 and 1250 rewrite: $rewritten")
  }
}
