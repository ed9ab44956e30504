package graft

import graft.sources.TxTable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** The `txtable` registered data source ([[graft.sources
  * .TxTableProvider]]): `spark.read.format("txtable")` and SQL over a
  * catalog table must plan Spark's own parquet scan (vectorized reads,
  * pushed filters) while the custom FileIndex consults manifest ranges
  * and Bloom sidecars — the round-10 "efficient read path is the DEFAULT
  * path" directive. Every skipping assertion is paired with a
  * value-equality assertion against the unpruned read: skipping must
  * never drop data.
  */
class TxProviderSpec extends SparkSpecBase {

  private lazy val s = spark
  import s.implicits._

  /** 8 range-clustered files over k=0..799, one file per 100-key band,
    * stats on k, blooms on the scattered column `u` (u = k * 7919 %
    * 1000 — overlapping ranges in every file, so only blooms can skip).
    */
  private def buildClustered(): String = {
    val dir = Files.createTempDirectory("txprov").toString
    val df = s.range(0, 800).select(
      col("id").as("k"),
      (col("id") * 7919 % 1000).as("u"),
      concat(lit("name_"), format_string("%04d", col("id"))).as("nm"))
    TxTable.commit(
      df.repartitionByRange(8, col("k")).sortWithinPartitions(col("k")),
      dir, "overwrite", statsColumns = Seq("k", "nm"),
      bloomColumns = Seq("u"), bloomBits = 1 << 16)
    dir
  }

  private def load(dir: String): DataFrame =
    s.read.format("txtable").load(dir)

  /** Files actually handed to the scan, read from the executed plan's
    * numFiles metric (the plan-level proof that skipping happened).
    */
  private def scannedFiles(df: DataFrame): Long = {
    df.collect()
    val scans = fileScans(df.queryExecution.executedPlan)
    assert(scans.nonEmpty, "expected a FileSourceScanExec leaf")
    scans.map(_.metrics("numFiles").value).sum
  }

  /** The exact skip target: manifest files whose recorded long range
    * for `c` intersects [lo, hi] (repartitionByRange samples split
    * points, so band widths are approximate — the manifest, not an
    * assumed layout, defines correct skipping).
    */
  private def overlapCount(dir: String, c: String, lo: Long, hi: Long): Long =
    TxTable.latest(dir).get.filesOverlapping(c, lo, hi).size.toLong

  test("format read equals the TxTable.read API, including time travel") {
    val dir = Files.createTempDirectory("txprovtt").toString
    TxTable.commit(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), dir)
    TxTable.commit(Seq((3L, "c")).toDF("id", "v"), dir, "append")
    assertSameRows(load(dir), TxTable.read(s, dir), "latest")
    assertSameRows(
      s.read.format("txtable").option("versionAsOf", 0).load(dir),
      TxTable.read(s, dir, Some(0L)), "versionAsOf=0")
  }

  test("WHERE on the clustered column skips files by manifest range") {
    val dir = buildClustered()
    val total = TxTable.latest(dir).get.files.size.toLong
    assert(total === 8L)
    val eq = load(dir).where(col("k") === 137L)
    assert(scannedFiles(eq) === overlapCount(dir, "k", 137L, 137L),
      "point predicate must open exactly the overlapping files")
    assert(scannedFiles(eq) <= 2L, "a point probe opens at most a boundary pair")
    assertSameRows(eq, TxTable.read(s, dir).where(col("k") === 137L), "eq")
    val range = load(dir).where(col("k") >= 250L && col("k") < 450L)
    assert(scannedFiles(range) === overlapCount(dir, "k", 250L, 449L),
      "range must open exactly the overlapping files")
    assert(scannedFiles(range) < total, "range must actually skip")
    assertSameRows(range,
      TxTable.read(s, dir).where(col("k") >= 250L && col("k") < 450L), "range")
    // parquet-level pushdown still happens below the file skipping
    val plan = eq.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("k"),
      s"expected parquet pushdown in:\n$plan")
  }

  test("IN, OR, LIKE-prefix and string ranges prune; unknowns keep all") {
    val dir = buildClustered()
    val inExpect =
      (TxTable.latest(dir).get.filesOverlapping("k", 5L, 5L) ++
        TxTable.latest(dir).get.filesOverlapping("k", 505L, 505L)).distinct.size.toLong
    val in = load(dir).where(col("k").isin(5L, 505L))
    assert(scannedFiles(in) === inExpect, "IN must open the union of its bands")
    assert(scannedFiles(in) <= 4L && scannedFiles(in) < 8L)
    assertSameRows(in, TxTable.read(s, dir).where(col("k").isin(5L, 505L)), "in")
    val orExpect =
      (TxTable.latest(dir).get.filesOverlapping("k", 5L, 5L) ++
        TxTable.latest(dir).get.filesOverlapping("k", 700L, 700L)).distinct.size.toLong
    val or = load(dir).where(col("k") === 5L || col("k") === 700L)
    assert(scannedFiles(or) === orExpect, "OR must union the branch keeps")
    val like = load(dir).where(col("nm").startsWith("name_01"))
    assert(scannedFiles(like) ===
      TxTable.latest(dir).get
        .filesOverlappingString("nm", "name_01", "name_01ÿ").size.toLong,
      "prefix must bound to its byte interval")
    assert(scannedFiles(like) < 8L, "prefix must actually skip")
    assertSameRows(like,
      TxTable.read(s, dir).where(col("nm").startsWith("name_01")), "like")
    val strRange = load(dir).where(col("nm") < "name_0100")
    assert(scannedFiles(strRange) ===
      TxTable.latest(dir).get
        .filesOverlappingString("nm", "", "name_0100").size.toLong,
      "string upper bound prunes to the overlapping files")
    assert(scannedFiles(strRange) < 8L, "string upper bound must actually skip")
    assertSameRows(strRange,
      TxTable.read(s, dir).where(col("nm") < "name_0100"), "strRange")
    // a filter shape the translator does not know keeps every file
    val opaque = load(dir).where(col("k") % 97 === 0)
    assert(scannedFiles(opaque) === 8L, "unrecognized predicates keep all files")
    assertSameRows(opaque, TxTable.read(s, dir).where(col("k") % 97 === 0),
      "opaque")
  }

  test("Bloom sidecars skip point probes on the scattered column") {
    val dir = buildClustered()
    // u ranges overlap in every file: range stats cannot skip, blooms can
    val absent = load(dir).where(col("u") === 997L) // 997 not in k*7919%1000 image? verify below
    val absentHits = TxTable.read(s, dir).where(col("u") === 997L).count()
    val scanned = scannedFiles(absent)
    if (absentHits == 0)
      assert(scanned === 0L, "absent key must bloom-skip every file")
    val present = load(dir).where(col("u") === (37L * 7919 % 1000))
    assertSameRows(present,
      TxTable.read(s, dir).where(col("u") === (37L * 7919 % 1000)), "present")
    assert(scannedFiles(present) < 8L,
      "a present key must not open files whose bloom rejects it")
  }

  test("InSet (optimizer-converted large IN lists) prunes soundly") {
    val dir = buildClustered()
    // > spark.sql.optimizer.inSetConversionThreshold (10) values forces
    // the In → InSet conversion, whose values are CATALYST-internal
    // (UTF8String for strings) — the translator must handle both forms
    val longKeys = (0 until 15).map(i => 700L + i) // clustered: 1-2 bands
    val inSetLong = load(dir).where(col("k").isin(longKeys: _*))
    assertSameRows(inSetLong,
      TxTable.read(s, dir).where(col("k").isin(longKeys: _*)), "inset long")
    assert(scannedFiles(inSetLong) < 8L, "a 15-key InSet must still skip")
    val strKeys = (0 until 15).map(i => f"name_${300 + i}%04d")
    val inSetStr = load(dir).where(col("nm").isin(strKeys: _*))
    assertSameRows(inSetStr,
      TxTable.read(s, dir).where(col("nm").isin(strKeys: _*)), "inset string")
    assert(scannedFiles(inSetStr) < 8L,
      "string InSet values (UTF8String) must translate and skip")
  }

  test("pruning soundness sweep: random predicates, pruned ≡ full filter") {
    val dir = buildClustered()
    val rnd = new scala.util.Random(1234)
    val full = TxTable.read(s, dir)
    for (_ <- 1 to 12) {
      val lo = rnd.nextInt(900).toLong - 50L
      val hi = lo + rnd.nextInt(300).toLong
      val shape = rnd.nextInt(5) match {
        case 0 => col("k") === lo
        case 1 => col("k") >= lo && col("k") < hi
        case 2 => col("k") < lo || col("k") > hi
        case 3 => col("u") === (lo % 1000 + 1000) % 1000
        case 4 => col("nm") >= f"name_$lo%04d" && col("k") <= hi
      }
      assertSameRows(load(dir).where(shape), full.where(shape), s"shape $shape")
    }
  }

  test("catalog: CREATE TABLE USING txtable, SQL reads prune, DROP") {
    val dir = buildClustered()
    s.sql("DROP TABLE IF EXISTS tx_cat")
    s.sql(s"CREATE TABLE tx_cat USING txtable LOCATION '$dir'")
    try {
      val viaSql = s.sql("SELECT k, u, nm FROM tx_cat WHERE k = 42")
      assertSameRows(viaSql, TxTable.read(s, dir).where(col("k") === 42L)
        .select("k", "u", "nm"), "sql point read")
      assert(scannedFiles(viaSql) === overlapCount(dir, "k", 42L, 42L),
        "SQL WHERE must prune files too")
      assert(scannedFiles(viaSql) < 8L)
      val agg = s.sql(
        "SELECT count(*) AS n FROM tx_cat WHERE k BETWEEN 100 AND 199")
      assert(agg.collect()(0).getLong(0) === 100L)
      assert(scannedFiles(agg) === overlapCount(dir, "k", 100L, 199L),
        "BETWEEN prunes to its overlapping files")
      assert(scannedFiles(agg) < 8L)
    } finally {
      s.sql("DROP TABLE IF EXISTS tx_cat")
      ()
    }
  }

  test("writer API: modes route to commit; stats/bloom options recorded") {
    val dir = Files.createTempDirectory("txprovw").toString
    val df = s.range(0, 100).select(col("id").as("k"), (col("id") * 3).as("v"))
    df.write.format("txtable").option("statsColumns", "k").save(dir)
    assert(TxTable.versions(dir) === Seq(0L))
    assert(TxTable.latest(dir).get.stats.nonEmpty, "statsColumns honored")
    df.write.format("txtable").mode("append").option("statsColumns", "k").save(dir)
    assert(TxTable.versions(dir) === Seq(0L, 1L))
    assert(load(dir).count() === 200L)
    intercept[IllegalArgumentException] {
      df.write.format("txtable").mode("error").save(dir)
    }
    df.write.format("txtable").mode("ignore").save(dir) // no-op
    assert(TxTable.versions(dir) === Seq(0L, 1L))
    df.write.format("txtable").mode("overwrite").save(dir)
    assert(load(dir).count() === 100L)
  }

  test("INSERT INTO a catalog txtable commits transactionally") {
    val dir = Files.createTempDirectory("txprovins").toString
    TxTable.commit(
      s.range(0, 10).select(col("id").as("k"), (col("id") * 2).as("v")),
      dir, "overwrite", statsColumns = Seq("k"))
    s.sql("DROP TABLE IF EXISTS tx_ins_spec")
    s.sql(s"CREATE TABLE tx_ins_spec USING txtable LOCATION '$dir'")
    try {
      s.sql("INSERT INTO tx_ins_spec VALUES (100, 200), (101, 202)")
      // the insert is a real manifest version, visible to every reader
      assert(TxTable.versions(dir) === Seq(0L, 1L),
        "INSERT must publish a new manifest version")
      assert(TxTable.read(s, dir).count() === 12L,
        "rows must be reader-visible (the default resolution would have " +
          "landed raw parquet outside the manifest — silent loss)")
      // stats carried forward: the new version still skips on k
      assert(TxTable.latest(dir).get.stats.values.exists(_.contains("k")),
        "stats columns survive SQL inserts")
      // no un-manifested parquet polluting the table root
      val rootFiles = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
        .iterator()
      val stray = Iterator.continually(rootFiles)
        .takeWhile(_.hasNext).map(_.next().getFileName.toString)
        .filter(n => n != "data" && n != "_txlog").toSeq
      assert(stray.isEmpty, s"table root polluted: $stray")
      // INSERT OVERWRITE replaces the snapshot
      s.sql("INSERT OVERWRITE tx_ins_spec VALUES (7, 14)")
      assert(TxTable.read(s, dir).count() === 1L)
      // values are cast to the manifest schema (positional SQL semantics)
      s.sql("INSERT INTO tx_ins_spec SELECT 8, 16")
      assert(s.table("tx_ins_spec").count() === 2L)
    } finally {
      s.sql("DROP TABLE IF EXISTS tx_ins_spec")
      ()
    }
  }

  test("INSERT keeps each Bloom column's own (widest) geometry") {
    val dir = Files.createTempDirectory("txprovbloom").toString
    TxTable.commit(s.range(0, 10).select(col("id").as("k"), col("id").as("v")),
      dir, "overwrite", bloomColumns = Seq("k"), bloomBits = 1 << 10, bloomK = 3)
    TxTable.commit(s.range(10, 20).select(col("id").as("k"), col("id").as("v")),
      dir, "append", bloomColumns = Seq("v"), bloomBits = 1 << 12, bloomK = 4)
    s.sql("DROP TABLE IF EXISTS tx_ins_bloom")
    s.sql(s"CREATE TABLE tx_ins_bloom USING txtable LOCATION '$dir'")
    try {
      val before = TxTable.latest(dir).get.files.toSet
      s.sql("INSERT INTO tx_ins_bloom VALUES (100, 200)")
      val snap = TxTable.latest(dir).get
      val added = snap.files.filterNot(before)
      assert(added.nonEmpty)
      added.foreach { f =>
        val geom = snap.blooms(f).map { case (c, r) => c -> (r.mBits, r.k) }
        assert(geom === Map("k" -> ((1 << 10, 3)), "v" -> ((1 << 12, 4))),
          s"inserted file $f must keep each column's geometry")
      }
      assert(TxTable.readPointLookupLong(s, dir, "v", 200L).count() === 1L)
    } finally {
      s.sql("DROP TABLE IF EXISTS tx_ins_bloom")
      ()
    }
  }

  test("catalog survives additive evolution: stale stored schema reads the full manifest") {
    val dir = Files.createTempDirectory("txprovevo").toString
    TxTable.commit(Seq((1L, "a")).toDF("id", "v"), dir)
    s.sql("DROP TABLE IF EXISTS tx_evo_spec")
    s.sql(s"CREATE TABLE tx_evo_spec USING txtable LOCATION '$dir'")
    try {
      assert(s.table("tx_evo_spec").count() === 1L)
      // additive append evolves the manifest; the catalog's stored
      // schema now lags (a strict prefix)
      TxTable.commit(Seq((2L, "b", 7.5)).toDF("id", "v", "score"), dir, "append")
      s.sql("REFRESH TABLE tx_evo_spec")
      val t = s.table("tx_evo_spec")
      assert(t.columns.toSeq === Seq("id", "v", "score"),
        "the read must expose the FULL manifest schema, not the stale one")
      assert(t.count() === 2L)
      assert(t.where(col("id") === 1L).collect()(0).isNullAt(2),
        "pre-evolution rows read the added column as null")
    } finally {
      s.sql("DROP TABLE IF EXISTS tx_evo_spec")
      ()
    }
  }

  test("declared CREATE TABLE schema must match the manifest") {
    val dir = Files.createTempDirectory("txprovschema").toString
    TxTable.commit(Seq((1L, "a")).toDF("id", "v"), dir)
    s.sql("DROP TABLE IF EXISTS tx_bad")
    val e = intercept[Exception] {
      s.sql(s"CREATE TABLE tx_bad (id INT, v STRING) USING txtable LOCATION '$dir'")
      s.table("tx_bad").collect()
    }
    assert(e.getMessage.contains("manifest"),
      s"expected the manifest-authority error, got: ${e.getMessage}")
    s.sql("DROP TABLE IF EXISTS tx_bad")
  }

  /** 800 rows in 8 range-clustered files — a long key `k` with stats and
    * a Bloom, an int key `i` and a string column `name` with stats — then
    * one `writeMode` merge that updates, deletes (137, 450) and inserts.
    */
  private def buildMerged(writeMode: String): String = {
    val dir = Files.createTempDirectory(s"txparity$writeMode").toString
    val df = s.range(0, 800).select(col("id").as("k"),
      (col("id") * 3).cast("int").as("i"),
      format_string("n%04d", col("id")).as("name"))
    TxTable.commit(df.repartitionByRange(8, col("k")).sortWithinPartitions(col("k")),
      dir, "overwrite", statsColumns = Seq("k", "i", "name"),
      bloomColumns = Seq("k", "name"), bloomBits = 1 << 16)
    TxTable.merge(s, dir, Seq((5L, 15, "upd", "UPDATE"), (137L, 411, "n0137", "DELETE"),
        (450L, 1350, "n0450", "DELETE"), (-1L, -3, "new", "INSERT"))
      .toDF("k", "i", "name", "operation"), Seq("k"), writeMode = writeMode)
    dir
  }

  test("explicit TxTable reads equal format(\"txtable\") and open the files its scan lists") {
    Seq("cow", "mor").foreach { mode =>
      val dir = buildMerged(mode)
      val snap = TxTable.latest(dir).get
      assert(snap.dvs.nonEmpty === (mode == "mor"), s"$mode: DVs only on the MoR table")
      val all = snap.files.toSet
      val at = s.read.format("txtable").option("versionAsOf", snap.version).load(dir)
      def opened(df: DataFrame): Set[String] = df.inputFiles.map(manifestRel).toSet
      // rows equal the provider under the same predicate, as a multiset;
      // the explicit read opens exactly the files the provider's scan lists
      def parity(explicit: DataFrame, where: org.apache.spark.sql.Column,
          hint: String): Set[String] = {
        val provider = at.where(where)
        assertSameRows(explicit, provider, s"$mode $hint")
        assert(opened(explicit) === listedFiles(provider, dir), s"$mode $hint: files")
        opened(explicit)
      }
      assert(parity(TxTable.read(s, dir, Some(snap.version)), lit(true), "read") === all)
      val point = parity(TxTable.readPointLookupLong(s, dir, "k", 300L),
        col("k") === 300L, "point k")
      assert(point.nonEmpty && point.size < all.size, s"$mode: the long pick skips")
      assert(parity(TxTable.readPointLookupLong(s, dir, "i", 900L),
        col("i") === 900L, "point on the int key").size < all.size,
        s"$mode: an integral lookup picks on an int column")
      assert(parity(TxTable.readPointLookupString(s, dir, "name", "n0300"),
        col("name") === "n0300", "point name").size < all.size)
      assert(parity(TxTable.readPruned(s, dir, "k", 250L, 449L),
        col("k").between(250L, 449L), "range k").size < all.size)
      assert(parity(TxTable.readPrunedString(s, dir, "name", "n0100", "n0199"),
        col("name").between("n0100", "n0199"), "range name").size < all.size)
      // a key outside every range opens no file
      assert(parity(TxTable.readPointLookupLong(s, dir, "k", 1000000L),
        col("k") === 1000000L, "absent key").isEmpty)
      // a deleted row does not come back, through a DV or a rewrite
      val gone = TxTable.readPointLookupLong(s, dir, "k", 137L)
      assert(gone.count() === 0L, s"$mode: the deleted key 137 came back")
      assertSameRows(gone, at.where(col("k") === 137L), s"$mode deleted key")
      assert(TxTable.read(s, dir).where(col("k").isin(137L, 450L)).count() === 0L)
      // a string range on the long column keeps every file
      val strOnLong = TxTable.readPrunedString(s, dir, "k", "1", "2")
      assert(opened(strOnLong) === all, s"$mode: a string range cannot prune a long column")
      assertSameRows(strOnLong, at.where(col("k").between("1", "2")), s"$mode string on long")
      // TxTable.read under a WHERE lists only the files the pick admits
      assert(listedFiles(TxTable.read(s, dir).where(col("k") === 300L), dir) === point,
        s"$mode: read(...).where(k = 300) lists more than the point pick")
    }
  }

  /** The executed plans of the queries `body` runs. */
  private def plansDuring(body: => Unit): Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.QueryExecution
    import scala.jdk.CollectionConverters._
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, ns: Long): Unit = {
        seen.add(qe); ()
      }
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    // listener calls arrive asynchronously: a marker query closes the window
    val tag = java.util.UUID.randomUUID().toString
    def isMarker(qe: QueryExecution) = qe.analyzed.toString.contains(tag)
    s.listenerManager.register(listener)
    try {
      body
      s.range(1).select(lit(tag)).collect()
      val deadline = System.currentTimeMillis() + 30000L
      while (!seen.asScala.exists(isMarker) && System.currentTimeMillis() < deadline)
        Thread.sleep(10)
      assert(seen.asScala.exists(isMarker), "the marker query was not delivered")
      seen.asScala.toSeq.filterNot(isMarker).map(_.executedPlan)
    } finally s.listenerManager.unregister(listener)
  }

  test("plan guard: every scan of a table directory reads through a TxFileIndex") {
    // the indexes of the file scans over `dir`; at least one must exist
    def indexes(plans: Seq[org.apache.spark.sql.execution.SparkPlan], dir: String,
        hint: String): Seq[String] = {
      val found = plans.flatMap(fileScans).map(_.relation.location)
        .filter(_.rootPaths.map(_.toUri.getPath).exists(p => p == dir || p.startsWith(s"$dir/")))
        .map(_.getClass.getSimpleName)
      assert(found.nonEmpty, s"$hint: no scan over $dir")
      assert(found.forall(_ == "TxFileIndex"), s"$hint reads $dir through $found")
      found
    }
    def of(df: DataFrame) = Seq(df.queryExecution.executedPlan)
    val dir = Files.createTempDirectory("txguard").toString
    TxTable.commit(s.range(0, 400).select(col("id").as("k"), col("id").cast("string").as("v"))
      .repartitionByRange(4, col("k")), dir, "overwrite", statsColumns = Seq("k"))
    TxTable.commit(Seq((1000L, "a"), (1001L, "b")).toDF("k", "v"), dir, "append",
      statsColumns = Seq("k"))
    indexes(of(TxTable.read(s, dir)), dir, "read")
    indexes(of(TxTable.readPointLookupLong(s, dir, "k", 7L)), dir, "point lookup")
    indexes(of(TxTable.readPruned(s, dir, "k", 10L, 20L)), dir, "readPruned")
    indexes(of(TxTable.changeFeed(s, dir, 0L, 1L, Seq("k"))), dir, "append feed")
    // a CoW merge on a table with no Bloom scans its candidates, then rewrites
    val cow = plansDuring(TxTable.merge(s, dir, Seq((7L, "x", "UPDATE"), (300L, null, "DELETE"))
      .toDF("k", "v", "operation"), Seq("k")))
    indexes(cow, dir, "CoW merge")
    indexes(of(TxTable.changeFeed(s, dir, 1L, 2L, Seq("k"))), dir, "merge feed")
    // a MoR merge scans its Bloom-picked candidates for row positions
    val mor = buildMerged("cow")
    indexes(plansDuring(TxTable.merge(s, mor, Seq((8L, 24, "y", "UPDATE")).toDF("k", "i",
      "name", "operation"), Seq("k"), writeMode = "mor")), mor, "MoR merge")
    indexes(of(TxTable.read(s, mor).where(col("k") === 8L)), mor, "MoR read")
  }
}
