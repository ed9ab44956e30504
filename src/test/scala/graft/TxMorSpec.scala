package graft

import graft.sources.TxTable
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/** Merge-on-read deletion vectors ([[graft.sources.TxTable.merge]]
  * `writeMode = "mor"`): write O(changes) instead of O(hit files), reads
  * apply per-file position vectors, compact folds them away. Every test
  * pairs the MoR result against the CoW result or a recompute — the two
  * write modes must be value-indistinguishable.
  */
class TxMorSpec extends SparkSpecBase {

  private lazy val s = spark
  import s.implicits._

  /** A 4-file table of (id, v) with stats on id, plus the CDC batch that
    * updates id=5, deletes id=17, inserts id=-1.
    */
  private def seed(tag: String): (String, org.apache.spark.sql.DataFrame) = {
    val dir = Files.createTempDirectory(tag).toString
    TxTable.commit(
      s.range(0, 40).select(col("id"), concat(lit("v"), col("id")).as("v"))
        .repartitionByRange(4, col("id")).sortWithinPartitions(col("id")),
      dir, "overwrite", statsColumns = Seq("id"))
    val batch = Seq(
      (5L, "V5", "UPDATE"), (17L, null.asInstanceOf[String], "DELETE"),
      (-1L, "VNEW", "INSERT")).toDF("id", "v", "operation")
    (dir, batch)
  }

  test("mor merge ≡ cow merge, row for row") {
    val (cowDir, batch) = seed("morcow")
    val (morDir, _) = seed("morcow2")
    TxTable.merge(s, cowDir, batch, Seq("id"))
    TxTable.merge(s, morDir, batch, Seq("id"), writeMode = "mor")
    assertSameRows(TxTable.read(s, morDir), TxTable.read(s, cowDir), "mor≡cow")
    // the merged state is the expected one
    val m = TxTable.read(s, morDir).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(m(5L) === "V5" && m(-1L) === "VNEW" && !m.contains(17L)
      && m.size === 40) // 40 - 1 delete + 1 insert
  }

  test("mor writes O(changes): every base file carries forward untouched") {
    val (dir, batch) = seed("moramp")
    val base = TxTable.latest(dir).get
    TxTable.merge(s, dir, batch, Seq("id"), writeMode = "mor")
    val after = TxTable.latest(dir).get
    assert(base.files.toSet.subsetOf(after.files.toSet),
      "no base file may be rewritten by a MoR merge")
    val newFiles = after.files.filterNot(base.files.toSet)
    // the new files hold exactly the 2 upsert rows
    val newBytes = newFiles.map(f => Files.size(Paths.get(dir, f))).sum
    val baseBytes = base.files.map(f => Files.size(Paths.get(dir, f))).sum
    assert(newBytes < baseBytes / 2,
      s"a 3-row batch must write a fraction of the table ($newBytes vs $baseBytes)")
    assert(after.dvs.nonEmpty, "deleted positions recorded as DVs")
    // positions recorded only for the two touched base files
    assert(after.dvs.keySet.subsetOf(base.files.toSet))
  }

  test("time travel: the pre-merge version is untouched, the merge version applies DVs") {
    val (dir, batch) = seed("mortt")
    val v = TxTable.merge(s, dir, batch, Seq("id"), writeMode = "mor")
    assert(TxTable.read(s, dir, Some(v - 1)).count() === 40L)
    assert(TxTable.read(s, dir, Some(v)).where(col("id") === 17L).count() === 0L)
    assert(TxTable.read(s, dir, Some(v)).where(col("id") === 5L)
      .collect()(0).getString(1) === "V5")
  }

  test("stacked mor merges union their deletion vectors") {
    val (dir, batch) = seed("morstack")
    TxTable.merge(s, dir, batch, Seq("id"), writeMode = "mor")
    TxTable.merge(s, dir,
      Seq((6L, null.asInstanceOf[String], "DELETE"),
        (5L, "V5b", "UPDATE")).toDF("id", "v", "operation"),
      Seq("id"), writeMode = "mor")
    val m = TxTable.read(s, dir).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(!m.contains(17L) && !m.contains(6L), "both rounds' deletes hold")
    assert(m(5L) === "V5b", "the second update wins (first upsert row dv'd)")
    assert(m.size === 39)
  }

  test("change feed across a mor merge reports updates and deletes") {
    // the mor merge keeps every file, so a file-subset-only append test
    // would misclassify it as delete-free — the regression this pins
    val (dir, batch) = seed("morfeed")
    val v = TxTable.merge(s, dir, batch, Seq("id"), writeMode = "mor")
    val feed = TxTable.changeFeed(s, dir, v - 1, v, Seq("id")).collect()
      .map(r => (r.getLong(0), r.getString(2))).toMap
    assert(feed === Map(5L -> "update", 17L -> "delete", -1L -> "insert"))
  }

  test("append after a mor merge carries the DVs forward") {
    val (dir, batch) = seed("morapp")
    TxTable.merge(s, dir, batch, Seq("id"), writeMode = "mor")
    TxTable.commit(Seq((100L, "v100")).toDF("id", "v"), dir, "append",
      statsColumns = Seq("id"))
    val rows = TxTable.read(s, dir).collect().map(_.getLong(0)).toSet
    assert(!rows.contains(17L), "append must not resurrect dv-deleted rows")
    assert(rows.contains(100L) && rows.contains(-1L))
  }

  test("cow merge on a dv-carrying table does not resurrect deleted rows") {
    val (dir, batch) = seed("morthencow")
    TxTable.merge(s, dir, batch, Seq("id"), writeMode = "mor")
    // a CoW merge whose hit file is one of the dv'd files: the rewrite
    // must apply the DVs, or 17 comes back from the rewritten file
    TxTable.merge(s, dir,
      Seq((16L, "V16", "UPDATE")).toDF("id", "v", "operation"), Seq("id"))
    val m = TxTable.read(s, dir).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(!m.contains(17L), "CoW rewrite must not resurrect dv-deleted rows")
    assert(m(16L) === "V16" && m(5L) === "V5")
    // the rewritten file's dv entry is retired with the file
    val after = TxTable.latest(dir).get
    after.dvs.keys.foreach(f => assert(after.files.contains(f),
      s"dv entry for dropped file $f must not survive"))
  }

  test("pruned and point reads apply DVs") {
    val (dir, batch) = seed("morpruned")
    TxTable.merge(s, dir, batch, Seq("id"), writeMode = "mor")
    assert(TxTable.readPruned(s, dir, "id", 10L, 20L).collect()
      .map(_.getLong(0)).toSet === ((10L to 20L).toSet - 17L))
    assert(TxTable.readPointLookupLong(s, dir, "id", 17L).count() === 0L)
    assert(TxTable.readPointLookupLong(s, dir, "id", 5L)
      .collect()(0).getString(1) === "V5")
  }

  test("the registered source reads DV tables correctly (fallback relation)") {
    val (dir, batch) = seed("morprov")
    TxTable.merge(s, dir, batch, Seq("id"), writeMode = "mor")
    val df = s.read.format("txtable").load(dir)
    assertSameRows(df, TxTable.read(s, dir), "provider over dv table")
    assert(df.where(col("id") === 17L).count() === 0L)
    assert(df.where(col("id") <= 10L).count() === 12L) // 0..10 plus -1
    assert(df.count() === 40L)
    // SQL over a catalog name too
    s.sql("DROP TABLE IF EXISTS tx_mor_cat")
    s.sql(s"CREATE TABLE tx_mor_cat USING txtable LOCATION '$dir'")
    try {
      assert(s.sql("SELECT count(*) AS n FROM tx_mor_cat WHERE id = 17")
        .collect()(0).getLong(0) === 0L)
      assert(s.sql("SELECT v FROM tx_mor_cat WHERE id = 5")
        .collect()(0).getString(0) === "V5")
    } finally {
      s.sql("DROP TABLE IF EXISTS tx_mor_cat")
      ()
    }
  }

  test("pure-DELETE MoR batch: no upsert rows, only deletion vectors") {
    val (dir, _) = seed("mordel")
    val base = TxTable.latest(dir).get
    TxTable.merge(s, dir,
      Seq((3L, null.asInstanceOf[String], "DELETE"),
        (21L, null.asInstanceOf[String], "DELETE")).toDF("id", "v", "operation"),
      Seq("id"), writeMode = "mor")
    val after = TxTable.latest(dir).get
    assert(base.files.toSet.subsetOf(after.files.toSet))
    assert(TxTable.read(s, dir).count() === 38L)
    assert(TxTable.read(s, dir).where(col("id").isin(3L, 21L)).count() === 0L)
    // foldDvs on the pure-delete state is value-neutral and clears dvs
    TxTable.foldDvs(s, dir)
    val folded = TxTable.latest(dir).get
    assert(folded.dvs.isEmpty && folded.op === "fold")
    assert(TxTable.read(s, dir).count() === 38L)
  }

  test("foldDvs rewrites ONLY the dv-carrying files; clean files by reference") {
    val (dir, batch) = seed("morfoldonly")
    TxTable.merge(s, dir, batch, Seq("id"), writeMode = "mor")
    val before = TxTable.latest(dir).get
    val dvd = before.dvs.keySet
    val clean = before.files.toSet -- dvd
    assert(dvd.nonEmpty && clean.nonEmpty, "fixture needs both kinds")
    TxTable.foldDvs(s, dir)
    val after = TxTable.latest(dir).get
    assert(clean.subsetOf(after.files.toSet),
      "every clean file must carry forward by reference")
    assert((dvd & after.files.toSet).isEmpty,
      "every dv'd file must be replaced by its folded rewrite")
    assertSameRows(TxTable.read(s, dir),
      TxTable.read(s, dir, Some(before.version)), "fold is value-neutral")
  }

  test("concurrent MoR merges serialize via CAS; both land, DVs union") {
    val dir = Files.createTempDirectory("morrace").toString
    TxTable.commit(
      s.range(0, 40).select(col("id"), concat(lit("v"), col("id")).as("v"))
        .repartitionByRange(4, col("id")).sortWithinPartitions(col("id")),
      dir, "overwrite", statsColumns = Seq("id"))
    val batches = Seq(
      Seq((5L, "A", "UPDATE"), (11L, null.asInstanceOf[String], "DELETE")),
      Seq((25L, "B", "UPDATE"), (31L, null.asInstanceOf[String], "DELETE")))
      .map(_.toDF("id", "v", "operation"))
    val threads = batches.map { b =>
      new Thread(() => {
        TxTable.merge(s, dir, b, Seq("id"), writeMode = "mor")
        ()
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    assert(TxTable.versions(dir) === Seq(0L, 1L, 2L),
      "both racers must land their own version")
    val m = TxTable.read(s, dir).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(m(5L) === "A" && m(25L) === "B"
      && !m.contains(11L) && !m.contains(31L) && m.size === 38,
      "the loser's CAS retry must re-derive against the winner's base " +
        "(both updates and both deletes land)")
    // a fold racing nothing afterwards is value-neutral
    TxTable.foldDvs(s, dir)
    assert(TxTable.read(s, dir).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap === m)
  }

  test("compactSmallFiles bin-packs only the small files; big ones by reference") {
    val dir = Files.createTempDirectory("smallpack").toString
    // one big file + 6 tiny per-epoch upsert files (the MoR accretion shape)
    TxTable.commit(
      s.range(0, 20000).select(col("id"), concat(lit("v"), col("id")).as("v"))
        .coalesce(1),
      dir, "overwrite", statsColumns = Seq("id"))
    (0 until 6).foreach { i =>
      TxTable.commit(
        Seq((100000L + i, s"tiny$i")).toDF("id", "v").coalesce(1),
        dir, "append", statsColumns = Seq("id"))
    }
    val before = TxTable.latest(dir).get
    assert(before.files.size === 7)
    val bigFile = before.files.maxBy(f =>
      java.nio.file.Files.size(Paths.get(dir, f)))
    val rows = TxTable.read(s, dir).orderBy("id").collect().toSeq
    TxTable.compactSmallFiles(s, dir, minBytes = 16 * 1024, targetFiles = 1)
    val after = TxTable.latest(dir).get
    assert(after.op === "compact-small")
    assert(after.files.contains(bigFile),
      "the big file must carry forward by reference")
    assert(after.files.size === 2, "6 tiny files bin-packed into 1")
    assert(TxTable.read(s, dir).orderBy("id").collect().toSeq === rows,
      "bin-packing is value-neutral")
    // stats survive for both the carried and the packed files
    assert(after.stats.values.forall(_.contains("id")))
    // idempotence: nothing more to pack (one small file left at most)
    val v = TxTable.compactSmallFiles(s, dir, minBytes = 16 * 1024)
    assert(v === after.version, "fewer than 2 small files → no-op")
  }

  test("compactSmallFiles folds the DVs of the small files it rewrites") {
    val (dir, batch) = seed("smallpackdv")
    TxTable.merge(s, dir, batch, Seq("id"), writeMode = "mor")
    val rows = TxTable.read(s, dir).orderBy("id").collect().toSeq
    // everything in the fixture is tiny → all files packed, DVs folded
    TxTable.compactSmallFiles(s, dir, minBytes = 1024 * 1024, targetFiles = 2)
    val after = TxTable.latest(dir).get
    assert(after.dvs.isEmpty, "packed files' DVs are folded in the rewrite")
    assert(TxTable.read(s, dir).orderBy("id").collect().toSeq === rows)
  }

  test("metadata-only COUNT(*): manifest answer ≡ scan across every op") {
    val (dir, batch) = seed("nrowscnt")
    def check(hint: String): Unit = {
      val manifest = TxTable.manifestRowCount(dir)
      assert(manifest.isDefined, s"$hint: counts must be complete")
      assert(manifest.get === TxTable.read(s, dir).count(), hint)
      assert(TxTable.countRows(s, dir) === manifest.get, hint)
    }
    check("after commit")
    TxTable.commit(Seq((900L, "x")).toDF("id", "v"), dir, "append")
    check("after append")
    TxTable.merge(s, dir, batch, Seq("id"), writeMode = "mor")
    check("after mor merge (nrows minus dv positions)")
    TxTable.merge(s, dir,
      Seq((30L, "Y", "UPDATE")).toDF("id", "v", "operation"), Seq("id"))
    check("after cow merge")
    TxTable.foldDvs(s, dir)
    check("after fold")
    TxTable.compactSmallFiles(s, dir, minBytes = 1 << 20, targetFiles = 2)
    check("after small-file pack")
    TxTable.compact(s, dir, targetFiles = 1)
    check("after compact")
    // time travel: counts answer per pinned version
    val vs = TxTable.versions(dir)
    vs.foreach(v => assert(
      TxTable.countRows(s, dir, Some(v)) === TxTable.read(s, dir, Some(v)).count(),
      s"version $v"))
    // a pre-nrows manifest (counts stripped) falls back to the scan
    val latestV = vs.last
    val mp = Paths.get(dir, "_txlog", s"v$latestV.manifest")
    val stripped = Files.readAllLines(mp).toArray.map(_.toString)
      .filterNot(_.startsWith("nrows=")).mkString("\n") + "\n"
    Files.writeString(mp, stripped)
    assert(TxTable.manifestRowCount(dir).isEmpty,
      "incomplete counts must refuse the manifest answer")
    assert(TxTable.countRows(s, dir) === TxTable.read(s, dir).count(),
      "fallback is the real scan")
  }

  test("manifest-recorded sizes: plan-time listing needs no filesystem stat") {
    val (dir, batch) = seed("sizesrec")
    val snap = TxTable.latest(dir).get
    assert(snap.files.forall(snap.sizes.contains),
      "every committed file records its byte length")
    snap.files.foreach(f => assert(
      snap.sizes(f) === java.nio.file.Files.size(Paths.get(dir, f)),
      s"recorded size must equal the on-disk size for $f"))
    // merge/fold keep the size map complete
    TxTable.merge(s, dir, batch, Seq("id"), writeMode = "mor")
    TxTable.foldDvs(s, dir)
    val folded = TxTable.latest(dir).get
    assert(folded.files.forall(folded.sizes.contains))
    // the provider plans and answers correctly from the recorded sizes
    assertSameRows(s.read.format("txtable").load(dir), TxTable.read(s, dir),
      "provider over size-recorded manifest")
  }

  test("INSERT INTO a DV-carrying catalog table refreshes the cached relation") {
    val (dir, batch) = seed("mordvins")
    TxTable.merge(s, dir, batch, Seq("id"), writeMode = "mor")
    s.sql("DROP TABLE IF EXISTS tx_dvins")
    s.sql(s"CREATE TABLE tx_dvins USING txtable LOCATION '$dir'")
    try {
      assert(s.table("tx_dvins").count() === 40L) // caches the DV relation
      s.sql("INSERT INTO tx_dvins VALUES (500, 'new')")
      // the insert lands as a real version AND the NAME sees it — the
      // built-in InsertableRelation path never refreshed the catalog
      // cache, serving the pre-insert snapshot (the regression this pins)
      assert(TxTable.read(s, dir).count() === 41L, "committed")
      assert(s.table("tx_dvins").count() === 41L,
        "the catalog name must see the insert without a manual REFRESH")
      assert(s.sql("SELECT v FROM tx_dvins WHERE id = 500")
        .collect()(0).getString(0) === "new")
      // DVs still applied through the refreshed relation
      assert(s.sql("SELECT count(*) AS n FROM tx_dvins WHERE id = 17")
        .collect()(0).getLong(0) === 0L)
    } finally {
      s.sql("DROP TABLE IF EXISTS tx_dvins")
      ()
    }
  }

  test("DV-carrying provider read keeps manifest file skipping and codegen (round-11)") {
    val (dir, batch) = seed("mordvprune")
    TxTable.merge(s, dir, batch, Seq("id"), writeMode = "mor")
    val snap = TxTable.latest(dir).get
    assert(snap.dvs.nonEmpty, "fixture must exercise the DV rewrite")
    // the query through the registered source stays value-correct:
    // 0..9 minus nothing, plus the upsert image of 5 and the insert -1
    val df = s.read.format("txtable").load(dir).where(col("id") < 10L)
    val got = df.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got.keySet === ((0L to 9L).toSet + -1L))
    assert(got(5L) === "V5" && got(-1L) === "VNEW")
    // the pre-round-11 path read ALL snapshot files for every filtered
    // query between a MoR merge and the next fold — the executed scan
    // must now skip files via the manifest (the O(table) regression pin)
    val scans = fileScans(df.queryExecution.executedPlan)
    assert(scans.nonEmpty, "DV read must plan a real file scan")
    val scanned = scans.map(_.metrics("numFiles").value).sum
    assert(scanned < snap.files.size,
      s"id<10 must skip files (scanned $scanned of ${snap.files.size})")
    // and the DV drop is a broadcast-hash ANTI join in the same plan —
    // codegen'd probe, not a Row-boundary relation
    def anyAnti(p: org.apache.spark.sql.execution.SparkPlan): Boolean = {
      val kids = p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          Seq(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => Seq(q.plan)
        case other => other.children
      }
      (p match {
        case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec =>
          j.joinType == org.apache.spark.sql.catalyst.plans.LeftAnti
        case _ => false
      }) || kids.exists(anyAnti)
    }
    assert(anyAnti(df.queryExecution.executedPlan),
      "DV application must plan as a broadcast-hash anti join")
    // without the extension rule the marked relation must fail loudly,
    // never resurrect deleted rows: the guard format is in the relation
    assert(TxTable.latest(dir).get.dvs.nonEmpty)
  }

  test("foldDvsIf: only files crossing the deleted-fraction threshold fold; " +
      "fraction 0 restores the DV-free relation") {
    val dir = Files.createTempDirectory("morfoldif").toString
    val all = s.range(0, 40).select(col("id"), concat(lit("v"), col("id")).as("v"))
    // four EXPLICIT 10-row files — deterministic per-file fractions
    TxTable.commit(all.filter(col("id") < 10).repartition(1), dir,
      "overwrite", statsColumns = Seq("id"))
    Seq((10, 20), (20, 30), (30, 40)).foreach { case (lo, hi) =>
      TxTable.commit(all.filter(col("id") >= lo && col("id") < hi).repartition(1),
        dir, "append", statsColumns = Seq("id"))
      ()
    }
    // 5/10 deleted in file 2 (crosses 0.2), 1/10 in file 4 (doesn't)
    val dels = Seq(10L, 12L, 14L, 16L, 18L, 35L)
      .map(k => (k, null.asInstanceOf[String], "DELETE"))
      .toDF("id", "v", "operation")
    TxTable.merge(s, dir, dels, Seq("id"), writeMode = "mor")
    val before = TxTable.latest(dir).get
    assert(before.dvs.size === 2, "both touched files carry DVs")
    val v = TxTable.foldDvs(s, dir, 0.2)
    val after = TxTable.latest(dir).get
    assert(after.version === v && after.op === "fold")
    assert(after.dvs.size === 1, "only the heavily-deleted file folds")
    assertSameRows(TxTable.read(s, dir),
      TxTable.read(s, dir, Some(before.version)), "partial fold is value-neutral")
    // nothing else crosses: the policy is a no-op at the same threshold
    assert(TxTable.foldDvs(s, dir, 0.2) === after.version)
    // fraction 0 folds the remainder; the provider returns to the
    // maximal DV-free HadoopFsRelation plan (what MoR maintenance is FOR)
    TxTable.foldDvs(s, dir, 0.0)
    assert(TxTable.latest(dir).get.dvs.isEmpty)
    val df = s.read.format("txtable").load(dir)
    assert(df.queryExecution.optimizedPlan.collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation
        if l.relation.isInstanceOf[
          org.apache.spark.sql.execution.datasources.HadoopFsRelation] => l
    }.nonEmpty, "DV-free table must read through the file-scan relation")
    assert(df.count() === 34L)
  }

  test("compact folds DVs away and restores the maximal scan relation") {
    val (dir, batch) = seed("morfold")
    TxTable.merge(s, dir, batch, Seq("id"), writeMode = "mor")
    val before = TxTable.read(s, dir).orderBy("id").collect().toSeq
    TxTable.compact(s, dir, targetFiles = 2, clusterBy = Seq("id"))
    val after = TxTable.latest(dir).get
    assert(after.dvs.isEmpty, "compact folds deletion vectors")
    assert(TxTable.read(s, dir).orderBy("id").collect().toSeq === before,
      "folding is value-neutral")
    // vacuum retires the now-unreferenced dv sidecar (grace 0)
    TxTable.vacuum(dir, keepVersions = 1, orphanGraceMs = 0L)
    val dvRoot = Paths.get(dir, "_txlog", "dv")
    if (Files.isDirectory(dvRoot)) {
      val it = Files.list(dvRoot)
      val left = try it.iterator().hasNext finally it.close()
      assert(!left, "expired dv sidecars swept")
    }
  }
}
