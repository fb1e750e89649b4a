package graft.sources

import java.nio.file.{Files, Path, Paths}
import java.util.ConcurrentModificationException
import java.util.concurrent.{Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.SparkSpec

/** The commit rule all three table formats share — a version becomes
  * visible whole, and at most once ([[StagedWrite.publish]]) — and what it
  * guarantees each format: racing writers that retry on
  * ConcurrentModificationException land every batch exactly once with a
  * contiguous history, a crash mid-commit leaves nothing a reader or the
  * next writer trips on, and a stale Iceberg version hint does not wedge
  * the table. */
class CommitProtocolSpec extends SparkSpec {
  import spark.implicits._

  private def newDir(prefix: String): Path = Files.createTempDirectory(prefix)

  private def listing(dir: Path): Seq[String] = {
    val s = Files.list(dir)
    try s.iterator().asScala.map(_.getFileName.toString).toSeq.sorted finally s.close()
  }

  test("publish: a body that throws mid-write leaves neither the destination nor a temp file") {
    val dir = newDir("graft_publish")
    val dst = dir.resolve("00000000000000000001.json")
    val e = intercept[IllegalStateException](StagedWrite.publish(dst) { out =>
      out.write("{\"half\":".getBytes("UTF-8"))
      throw new IllegalStateException("crash mid-write")
    })
    assert(e.getMessage == "crash mid-write")
    assert(listing(dir).isEmpty, s"left behind: ${listing(dir)}")
  }

  test("publish: a second publish to a taken name loses and leaves the existing bytes") {
    val dir = newDir("graft_publish")
    val dst = dir.resolve("v1.metadata.json")
    assert(StagedWrite.publishLines(dst, Seq("winner")))
    assert(!StagedWrite.publishLines(dst, Seq("loser")))
    assert(Files.readAllLines(dst).asScala == Seq("winner"))
    assert(listing(dir) == Seq("v1.metadata.json"))
    // racing publishers of one name: exactly one wins, its bytes whole
    val racers = 4
    val pool = Executors.newFixedThreadPool(racers)
    val name = dir.resolve("v2.metadata.json")
    try {
      val wins = (0 until racers).map(i => pool.submit(() =>
        StagedWrite.publishLines(name, Seq.fill(1000)(s"writer-$i")))).map(_.get(30, TimeUnit.SECONDS))
      assert(wins.count(identity) == 1, s"winners: $wins")
      val lines = Files.readAllLines(name).asScala
      assert(lines.size == 1000 && lines.distinct == Seq(s"writer-${wins.indexOf(true)}"))
    } finally pool.shutdown()
    assert(listing(dir) == Seq("v1.metadata.json", "v2.metadata.json"))
  }

  test("a staged file never replaces a taken name: the write aborts, the existing bytes stay") {
    val root = newDir("graft_moveto")
    val dst = root.resolve("data").resolve("part-0.parquet")
    Files.createDirectories(dst.getParent)
    Files.write(dst, "committed by another writer".getBytes("UTF-8"))
    intercept[ConcurrentModificationException](
      StagedWrite.write(root, Seq(1L, 2L).toDF("id").coalesce(1)) {
        _.nonEmptyFiles.map(_.moveTo(dst))
      })
    assert(new String(Files.readAllBytes(dst), "UTF-8") == "committed by another writer")
    assert(listing(root) == Seq("data"), "the staging directory must be swept")
  }

  /** Seed table: ids 0..79 at value 0. Batch `b` owns ids [10b, 10b + 10):
    * an even batch upserts the first five of them and inserts five new
    * ids 1000 + 10b.., an odd batch deletes all ten. Disjoint, so every
    * serial order gives the same table. */
  private val Batches = 8
  private def seedRows: DataFrame = (0L until 80L).map(i => (i, 0.0)).toDF("id", "v")
  private def upserts(b: Int): DataFrame =
    ((0 until 5).map(i => (10L * b + i, b + 1.0)) ++
      (0 until 5).map(i => (1000L + 10L * b + i, b + 1.0))).toDF("id", "v")
  private def deleteIds(b: Int): Seq[Long] = (0 until 10).map(i => 10L * b + i)
  private def serial: Map[Long, Double] =
    (0 until Batches).foldLeft((0L until 80L).map(_ -> 0.0).toMap) { (m, b) =>
      if (b % 2 == 0) m ++ upserts(b).as[(Long, Double)].collect()
      else m -- deleteIds(b)
    }
  private def stamp(b: Int): Long = 10000L + b

  /** Runs every batch on at most 4 threads, each retrying ONLY on
    * ConcurrentModificationException; returns the retry count. */
  private def race(apply: Int => Unit): Int = {
    val retries = new AtomicInteger(0)
    val pool = Executors.newFixedThreadPool(4)
    try {
      (0 until Batches).map { b =>
        pool.submit(new Runnable {
          override def run(): Unit = {
            var done = false
            var attempts = 0
            while (!done) {
              try { apply(b); done = true }
              catch {
                case _: ConcurrentModificationException if attempts < 50 =>
                  attempts += 1; retries.incrementAndGet()
              }
            }
          }
        })
      }.foreach(_.get(300, TimeUnit.SECONDS))
    } finally pool.shutdown()
    retries.get
  }

  private def rowsOf(df: DataFrame): Map[Long, Double] =
    df.select("id", "v").as[(Long, Double)].collect().toMap

  test("Delta: racing mergeDelta/deleteFromDelta writers land every batch exactly once") {
    val t = TxTable(spark, newDir("graft_race_src").toString)
    t.append(seedRows.coalesce(2), tsMillis = 1000L)
    val out = newDir("graft_race_delta").resolve("t").toString
    DeltaInterop.exportDelta(t, out, tsMillis = 2000L)
    val retries = race { b =>
      if (b % 2 == 0) DeltaInterop.mergeDelta(spark, out, upserts(b), Seq("id"), stamp(b))
      else DeltaInterop.deleteFromDelta(spark, out, col("id").isin(deleteIds(b): _*), stamp(b))
    }
    val logDir = Paths.get(out, "_delta_log")
    val commits = listing(logDir).filter(_.endsWith(".json"))
    assert(commits == (0 to Batches).map(v => f"$v%020d.json"),
      s"non-contiguous history: $commits")
    val m = new ObjectMapper()
    val stamps = commits.drop(1).map { c =>
      m.readTree(Files.readAllLines(logDir.resolve(c)).get(0))
        .get("commitInfo").get("timestamp").asLong
    }
    assert(stamps.sorted == (0 until Batches).map(stamp), s"batches landed as $stamps")
    assert(rowsOf(DeltaInterop.readDelta(spark, out)) == serial, s"after $retries retries")
  }

  test("Iceberg: racing upsertIceberg/deleteFromIcebergByKey writers land every batch exactly once") {
    val t = TxTable(spark, newDir("graft_race_src").toString)
    t.append(seedRows.coalesce(2), tsMillis = 1000L)
    val out = newDir("graft_race_ice").resolve("t").toString
    IcebergInterop.exportIceberg(t, out, tsMillis = 2000L)
    val retries = race { b =>
      if (b % 2 == 0) IcebergInterop.upsertIceberg(spark, out, upserts(b), Seq("id"), stamp(b))
      else IcebergInterop.deleteFromIcebergByKey(spark, out, deleteIds(b).toDF("id"), stamp(b))
    }
    val metaDir = Paths.get(out, "metadata")
    val versions = listing(metaDir).filter(_.endsWith(".metadata.json"))
      .map(_.stripPrefix("v").stripSuffix(".metadata.json").toInt).sorted
    assert(versions == (1 to Batches + 1), s"non-contiguous history: $versions")
    val last = new ObjectMapper().readTree(
      metaDir.resolve(s"v${Batches + 1}.metadata.json").toFile)
    val stamps = last.get("snapshots").elements().asScala
      .map(_.get("timestamp-ms").asLong).toSeq.filter(_ != 2000L)
    assert(stamps.sorted == (0 until Batches).map(stamp), s"batches landed as $stamps")
    assert(rowsOf(IcebergInterop.readIceberg(spark, out)) == serial, s"after $retries retries")
  }

  test("a crash mid-commit leaves a torn temp file that readers and the next commit ignore") {
    val t = TxTable(spark, newDir("graft_crash_src").toString)
    t.append(seedRows.coalesce(1), tsMillis = 1000L)
    val delta = newDir("graft_crash_delta").resolve("t").toString
    val ice = newDir("graft_crash_ice").resolve("t").toString
    DeltaInterop.exportDelta(t, delta, tsMillis = 2000L)
    IcebergInterop.exportIceberg(t, ice, tsMillis = 2000L)
    // what a writer killed inside publish leaves: its half-written temp
    // file beside the version it was about to claim
    Seq(Paths.get(t.root, "_txlog"), Paths.get(delta, "_delta_log"), Paths.get(ice, "metadata"))
      .foreach(d => Files.write(d.resolve(".tmp4711.publish"), "{\"torn".getBytes("UTF-8")))
    t.delete(col("id") < 10L, tsMillis = 3000L)
    DeltaInterop.deleteFromDelta(spark, delta, col("id") < 10L, 3000L)
    IcebergInterop.deleteFromIcebergByKey(spark, ice, deleteIds(0).toDF("id"), 3000L)
    val expected = (10L until 80L).map(_ -> 0.0).toMap
    assert(rowsOf(t.read()) == expected)
    assert(rowsOf(DeltaInterop.readDelta(spark, delta)) == expected)
    assert(rowsOf(IcebergInterop.readIceberg(spark, ice)) == expected)
  }

  test("Iceberg: a stale version hint (a writer died before flipping it) does not wedge the table") {
    val t = TxTable(spark, newDir("graft_hint_src").toString)
    t.append(seedRows.coalesce(1), tsMillis = 1000L)
    val out = newDir("graft_hint_ice").resolve("t").toString
    IcebergInterop.exportIceberg(t, out, tsMillis = 2000L)
    IcebergInterop.upsertIceberg(spark, out, upserts(0), Seq("id"), 3000L)
    val hint = Paths.get(out, "metadata", "version-hint.text")
    assert(Files.readAllLines(hint).asScala == Seq("2"))
    // the state a writer leaves when it dies after publishing v2 but
    // before flipping the hint
    Files.write(hint, Seq("1").asJava)
    val afterUpsert = (0L until 80L).map(_ -> 0.0).toMap ++ upserts(0).as[(Long, Double)].collect()
    assert(rowsOf(IcebergInterop.readIceberg(spark, out)) == afterUpsert,
      "readers must see the newest published version, not the hint's")
    assert(IcebergInterop.upsertIceberg(spark, out, upserts(2), Seq("id"), 4000L)._2 == 10L)
    assert(IcebergInterop.deleteFromIcebergByKey(spark, out, deleteIds(1).toDF("id"), 5000L) == 10L)
    assert(rowsOf(IcebergInterop.readIceberg(spark, out)) ==
      afterUpsert ++ upserts(2).as[(Long, Double)].collect() -- deleteIds(1))
    assert(Files.readAllLines(hint).asScala == Seq("4"))
  }
}
