package graft

import graft.sources.{LocalLinkArbiter, TxTable}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.{Random, Try}

/** A small change set is merged from the driver (collected once, hit
  * files picked by stats and Bloom, rewritten against a local relation);
  * a large one is checkpointed and merged by Spark. Both must be the same
  * merge: every draw here is applied to two copies of one table, once per
  * path, and the results compared.
  */
class TxMergePathSpec extends SparkSpecBase {

  private lazy val s = spark
  import s.implicits._

  /** A table a draw runs against: even ids 0..398 in 4 range-clustered
    * files with stats on `id`, and a Bloom on `id` of `bloomBits` (none
    * when absent; 32 bits saturates every filter). `mor` merges by
    * deletion vectors, from a base that already carries some.
    */
  private case class Shape(name: String, bloomBits: Option[Int], mor: Boolean)

  private val Bloomed = Shape("bloom", Some(1 << 16), mor = false)
  private val NoBloom = Shape("nobloom", None, mor = false)
  private val Mor = Shape("mor", Some(1 << 16), mor = true)
  private val Saturated = Shape("saturated", Some(32), mor = false)

  private def writeMode(shape: Shape) = if (shape.mor) "mor" else "cow"

  private def changeSchema(intKeys: Boolean) = StructType(Seq(
    StructField("id", if (intKeys) IntegerType else LongType),
    StructField("v", StringType), StructField("operation", StringType),
    StructField("__epoch", LongType)))

  /** The change rows as a frame in ONE partition, so the distributed
    * path's checkpoint writes its upserts as one file, as the driver path
    * does: the two manifests can then be compared file by file.
    */
  private def changes(rows: Seq[Row], intKeys: Boolean): DataFrame =
    s.createDataFrame(rows.asJava, changeSchema(intKeys)).coalesce(1)

  private def row(id: Option[Long], v: String, op: String, epoch: Long, intKeys: Boolean) =
    Row(id.map(i => if (intKeys) i.toInt else i).orNull, v, op, epoch)

  /** Two identical copies of a fresh `shape` table (same file names). */
  private def tables(shape: Shape): (String, String) = {
    val a = Files.createTempDirectory(s"txpath-${shape.name}-a")
    TxTable.commit((0L until 400L by 2).map(i => (i, s"v$i")).toDF("id", "v")
        .repartitionByRange(4, col("id")).sortWithinPartitions(col("id")),
      a.toString, "overwrite", statsColumns = Seq("id"),
      bloomColumns = shape.bloomBits.toSeq.map(_ => "id"),
      bloomBits = shape.bloomBits.getOrElse(1 << 13))
    if (shape.mor)
      TxTable.merge(s, a.toString, Seq((10L, "u10", "UPDATE"), (200L, "", "DELETE"))
        .toDF("id", "v", "operation"), Seq("id"), writeMode = "mor")
    val b = Files.createTempDirectory(s"txpath-${shape.name}-b")
    Files.walk(a).iterator().asScala.toSeq.foreach { p =>
      val to = b.resolve(a.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(to) else Files.copy(p, to)
    }
    (a.toString, b.toString)
  }

  /** Merge through the driver path (`cap` unset) or, with `cap = 0`,
    * through the distributed one. Returns the version or the error.
    */
  private def merge(dir: String, ch: DataFrame, shape: Shape, cap: Option[Int],
      stamp: Either[Option[Long], String] = Left(None), replays: AtomicInteger = new AtomicInteger,
      stream: Option[String] = None): Try[Long] = Try {
    val onReplay = (_: Long, _: Long) => { replays.incrementAndGet(); () }
    cap match {
      case Some(c) => TxTable.mergeStamped(s, dir, ch, Seq("id"), "operation", 10, stamp,
        LocalLinkArbiter, writeMode(shape), stream, onReplay, c)
      case None => TxTable.mergeStamped(s, dir, ch, Seq("id"), "operation", 10, stamp,
        LocalLinkArbiter, writeMode(shape), stream, onReplay)
    }
  }

  private def rowsOf(dir: String): Seq[String] =
    TxTable.read(s, dir).collect().map(_.toString).toSeq.sorted

  private val Uuid = "[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}".r

  /** The latest manifest's lines, sorted, with every UUID replaced by its
    * order of first appearance and the commit wall-clock left out.
    */
  private def numberedManifest(dir: String): Seq[String] = {
    val v = TxTable.versions(dir).last
    val ids = mutable.Map.empty[String, Int]
    Files.readAllLines(Paths.get(dir, "_txlog", s"v$v.manifest")).asScala.toSeq
      .filterNot(_.startsWith("ts="))
      .map(l => Uuid.replaceAllIn(l, m => s"#${ids.getOrElseUpdate(m.matched, ids.size)}"))
      .sorted
  }

  /** Apply `rows` to both copies and check they agree. Returns the files
    * only the driver path rewrote (its Bloom false positives).
    */
  private def bothPaths(shape: Shape, rows: Seq[Row], intKeys: Boolean): Set[String] = {
    val (a, b) = tables(shape)
    val baseFiles = TxTable.latest(a).get.files.toSet
    val driver = merge(a, changes(rows, intKeys), shape, None)
    val distributed = merge(b, changes(rows, intKeys), shape, Some(0))
    assert(driver.isSuccess === distributed.isSuccess,
      s"${shape.name}: driver $driver, distributed $distributed for $rows")
    if (driver.isFailure) {
      assert(driver.failed.get.getMessage === distributed.failed.get.getMessage)
      assert(TxTable.versions(a) === TxTable.versions(b))
      return Set.empty
    }
    assert(driver.get === distributed.get)
    assert(rowsOf(a) === rowsOf(b), s"${shape.name}: tables differ for $rows")
    val removedA = baseFiles -- TxTable.latest(a).get.files
    val removedB = baseFiles -- TxTable.latest(b).get.files
    assert(removedB.subsetOf(removedA),
      s"${shape.name}: the driver path kept a file the scan found a hit in")
    val falsePositives = removedA -- removedB
    if (falsePositives.isEmpty)
      assert(numberedManifest(a) === numberedManifest(b), s"${shape.name}: manifests differ")
    else {
      // a false-positive file holds no touched key, and its rows come
      // through the rewrite unchanged
      val touched = rows.flatMap(r => Option(r.get(0)).map(_.toString.toLong)).toSet
      val after = rowsOf(a).toSet
      falsePositives.foreach { f =>
        val held = s.read.parquet(s"$a/$f").collect().toSeq
        assert(held.forall(r => !touched(r.getLong(0))), s"$f holds a touched key")
        assert(held.map(_.toString).forall(after), s"$f lost or changed a row")
      }
    }
    falsePositives
  }

  /** A random batch: `n` distinct keys from -20..419 (even ids below 400
    * present, odd ids absent, the rest new), optionally one null key and
    * one key twice.
    */
  private def draw(r: Random, n: Int, insertOnly: Boolean, nullKey: Boolean,
      dupKey: Boolean, intKeys: Boolean): Seq[Row] = {
    val ops = if (insertOnly) Seq("INSERT") else Seq("INSERT", "UPDATE", "DELETE")
    def op() = ops(r.nextInt(ops.size))
    val keys = r.shuffle((-20L until 420L).toVector).take(n)
    val rows = keys.zipWithIndex.map { case (k, i) =>
      row(Some(k), s"n${r.nextInt(1000)}", op(), 100L + i, intKeys)
    }
    rows ++ (if (nullKey) Seq(row(None, "null-key", op(), 999L, intKeys)) else Nil) ++
      (if (dupKey) Seq(row(Some(keys.head), "again", op(), 998L, intKeys)) else Nil)
  }

  test("property: the driver path and the distributed path give the same merge") {
    val falsePositives = mutable.Map.empty[String, Int].withDefaultValue(0)
    for (shape <- Seq(Bloomed, NoBloom, Mor, Saturated); seed <- 0 until 5) {
      val r = new Random(shape.name.hashCode * 31L + seed)
      // every shape sees each feature: null keys, a duplicate key, an
      // insert-only batch, INT keys against the LONG table, and a plain one
      val rows = draw(r, 1 + r.nextInt(40), insertOnly = seed == 2, nullKey = seed == 0,
        dupKey = seed == 1, intKeys = seed == 3)
      falsePositives(shape.name) += bothPaths(shape, rows, intKeys = seed == 3).size
    }
    assert(falsePositives(Bloomed.name) + falsePositives(NoBloom.name) +
      falsePositives(Mor.name) === 0, s"unexpected false positives: $falsePositives")
    assert(falsePositives(Saturated.name) > 0,
      "a saturated Bloom must admit a file that holds no touched key")
  }

  test("both paths reject duplicate keys and deletes of absent keys change nothing") {
    val dup = Seq(row(Some(4L), "a", "UPDATE", 1L, intKeys = false),
      row(Some(4L), "b", "DELETE", 2L, intKeys = false))
    bothPaths(Bloomed, dup, intKeys = false)
    val nulls = Seq(row(None, "a", "INSERT", 1L, intKeys = false),
      row(None, "b", "INSERT", 2L, intKeys = false))
    bothPaths(Bloomed, nulls, intKeys = false)
    val (a, b) = tables(Bloomed)
    val err = merge(a, changes(dup, intKeys = false), Bloomed, None).failed.get
    assert(err.getMessage.contains("one change row per key"))
    assert(merge(b, changes(dup, intKeys = false), Bloomed, Some(0)).failed.get.getMessage ===
      err.getMessage)
    val absent = Seq(1L, 3L, 999L, -7L).map(k => row(Some(k), "", "DELETE", k, intKeys = false))
    bothPaths(Bloomed, absent, intKeys = false)
    bothPaths(Mor, absent, intKeys = false)
  }

  test("both paths skip a replayed stamp: one skip, no version") {
    Seq(None, Some(0)).foreach { cap =>
      val (dir, _) = tables(Bloomed)
      val rows = Seq(row(Some(6L), "x", "UPDATE", 7L, intKeys = false),
        row(Some(9L), "y", "INSERT", 8L, intKeys = false))
      val replays = new AtomicInteger
      val stamp = Right("__epoch")
      val v = merge(dir, changes(rows, intKeys = false), Bloomed, cap, stamp, replays,
        Some("s")).get
      assert(v === 1L && TxTable.appliedEpoch(dir, Some("s")) === 8L)
      assert(merge(dir, changes(rows, intKeys = false), Bloomed, cap, stamp, replays,
        Some("s")).get === -1L)
      assert(replays.get === 1, s"cap $cap")
      assert(TxTable.versions(dir).last === 1L)
      // an empty stamped change set commits nothing and is not a skip
      assert(merge(dir, changes(Nil, intKeys = false), Bloomed, cap, stamp, replays,
        Some("s")).get === -1L)
      assert(replays.get === 1 && TxTable.versions(dir).last === 1L)
    }
  }

  test("the cap boundary: cap rows stay on the driver, cap + 1 rows checkpoint") {
    val r = new Random(7)
    val rows = draw(r, 24, insertOnly = false, nullKey = false, dupKey = false, intKeys = false)
    def checkpoints(jobs: Seq[(String, String)]) = jobs.exists(_._2.contains("localCheckpoint"))
    Seq(Bloomed, Mor).foreach { shape =>
      val (a, b) = tables(shape)
      val atCap = jobsDuring(merge(a, changes(rows, intKeys = false), shape, Some(rows.size)).get)
      val overCap = jobsDuring(merge(b, changes(rows, intKeys = false), shape,
        Some(rows.size - 1)).get)
      assert(!checkpoints(atCap), s"${shape.name}: $atCap")
      assert(checkpoints(overCap), s"${shape.name}: $overCap")
      assert(rowsOf(a) === rowsOf(b))
      assert(numberedManifest(a) === numberedManifest(b))
    }
  }
}
