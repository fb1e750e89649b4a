package graft.sources

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.graft.JobCounter
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.SparkSpec

/** Spark jobs per small CDC commit, in the shape the `lakehouse_cdc`
  * benchmark applies them: a 40-row table, flat or partitioned by `day`,
  * takes a 10-row upsert batch (6 replaced keys, 4 new) read back from one
  * parquet file, then a 3-key delete, a latest read and a compaction. A
  * job is a scheduler round trip plus an adaptive re-plan, so the counts
  * are pinned: a call that starts recomputing what it already knows
  * (emptiness, duplicate keys, row counts, delete-file schemas and
  * sequence numbers) fails here. */
class MutationJobsSpec extends SparkSpec {
  import spark.implicits._

  private def jobs[T](body: => T): (T, Int) = JobCounter.jobsDuring(spark.sparkContext)(body)

  /** (id, day, v) rows 0 until 40, three `day` values. */
  private def source(name: String, partitioned: Boolean): TxTable = {
    val t = TxTable(spark, Files.createTempDirectory(name).toString)
    t.append((0L until 40L).map(i => (i, i % 3, i * 1.5)).toDF("id", "day", "v"),
      tsMillis = 1000L, partitionBy = if (partitioned) Seq("day") else Seq.empty)
    t
  }

  /** `df` written as one parquet file and read back, the way the
    * benchmark hands a batch to the library. */
  private def staged(df: DataFrame): DataFrame = {
    val dir = Files.createTempDirectory("graft_jobs_batch").resolve("b").toString
    df.coalesce(1).write.parquet(dir)
    spark.read.schema(df.schema).parquet(dir)
  }

  private def upserts: DataFrame = staged(((0L until 6L) ++ (100L until 104L))
    .map(i => (i, i % 3, i * 10.0)).toDF("id", "day", "v"))
  private def deleteKeys: DataFrame = staged(Seq(7L, 8L, 9L).toDF("id"))
  private def dir(name: String): String = Files.createTempDirectory(name).toString

  private def tx(partitioned: Boolean): Map[String, Int] = {
    val t = source("graft_jobs_tx", partitioned)
    val (ups, cdcUps, cdcDels) = (upserts,
      staged(Seq((10L, 1L, 0.5), (200L, 2L, 2.5)).toDF("id", "day", "v")), deleteKeys)
    val (_, merge) = jobs(t.merge(ups, Seq("id"), "day", "day", 2000L))
    val (_, delete) = jobs(t.delete(col("id").isin(7L, 8L, 9L), 3000L))
    val (_, cdc) = jobs(t.applyCdc(cdcUps, cdcDels, Seq("id"), 4000L))
    assert(t.read().count() == 40L + 4L - 3L + 1L)
    Map("merge" -> merge, "delete" -> delete, "applyCdc" -> cdc)
  }

  private def delta(partitioned: Boolean, cdf: Boolean): Map[String, Int] = {
    val out = dir("graft_jobs_delta")
    DeltaInterop.exportDelta(source("graft_jobs_dsrc", partitioned), out, tsMillis = 5000L)
    if (cdf) DeltaInterop.setDeltaTableProperty(spark, out,
      "delta.enableChangeDataFeed", "true", tsMillis = 5500L)
    val ups = upserts
    val (res, merge) = jobs(DeltaInterop.mergeDelta(spark, out, ups, Seq("id"), 6000L))
    assert(res == ((6L, 10L)))
    assert(DeltaInterop.readDelta(spark, out).count() == 44L)
    Map("mergeDelta" -> merge)
  }

  private def iceberg(partitioned: Boolean): Map[String, Int] = {
    val out = dir("graft_jobs_ice")
    IcebergInterop.exportIceberg(source("graft_jobs_isrc", partitioned), out, tsMillis = 5000L)
    val (ups, dels) = (upserts, deleteKeys)
    val (res, upsert) = jobs(IcebergInterop.upsertIceberg(spark, out, ups, Seq("id"), 6000L))
    assert(res == ((10L, 10L)))
    val (deleted, delete) = jobs(IcebergInterop.deleteFromIcebergByKey(spark, out, dels, 7000L))
    assert(deleted == 3L)
    val (rows, read) = jobs(IcebergInterop.readIceberg(spark, out).collect().length)
    assert(rows == 41)
    val (_, compact) = jobs(IcebergInterop.rewriteIcebergData(spark, out, 8000L))
    assert(IcebergInterop.readIceberg(spark, out).count() == 41L)
    Map("upsert" -> upsert, "delete" -> delete, "read" -> read, "compact" -> compact)
  }

  private def check(got: Map[String, Int], want: (String, Int)*): Unit =
    assert(got == want.toMap, s"jobs: got $got, want ${want.toMap}")

  // the counts before the batch check and the job-free constants are in
  // each test's comment (flat; partitioned where it differs)

  test("TxTable merge, delete and applyCdc") {
    // merge 7 (8), delete 3 (4), applyCdc 11 (12)
    check(tx(partitioned = false), "merge" -> 5, "delete" -> 2, "applyCdc" -> 8)
    check(tx(partitioned = true), "merge" -> 6, "delete" -> 3, "applyCdc" -> 9)
  }

  test("mergeDelta with and without the change data feed") {
    // 13 without the feed, 16 with it (flat and partitioned)
    Seq(false, true).foreach { partitioned =>
      check(delta(partitioned, cdf = false), "mergeDelta" -> 7)
      // the feed reads the matched rows twice more, so they stay pinned
      check(delta(partitioned, cdf = true), "mergeDelta" -> 11)
    }
  }

  test("Iceberg upsert, key delete, read and compaction") {
    // upsert 9, delete 4, read 5, compact 5 (6)
    check(iceberg(partitioned = false), "upsert" -> 5, "delete" -> 2, "read" -> 2, "compact" -> 2)
    check(iceberg(partitioned = true), "upsert" -> 5, "delete" -> 2, "read" -> 2, "compact" -> 3)
  }

  private def listing(root: String): Set[String] = {
    val w = Files.walk(java.nio.file.Paths.get(root))
    try w.iterator().asScala.filter(Files.isRegularFile(_)).map(_.toString).toSet
    finally w.close()
  }

  test("duplicate keys are refused with their exact count before any byte lands") {
    // keys 1 and 2 repeat, 3 does not
    val dup = staged(Seq((1L, 1L, 1.0), (1L, 1L, 2.0), (2L, 2L, 3.0), (2L, 2L, 4.0),
      (2L, 2L, 5.0), (3L, 0L, 6.0)).toDF("id", "day", "v"))
    def refusal(call: => Any): String = intercept[IllegalArgumentException](call).getMessage

    val delta = dir("graft_dup_delta")
    DeltaInterop.exportDelta(source("graft_dup_dsrc", partitioned = true), delta, tsMillis = 5000L)
    val deltaBefore = listing(delta)
    assert(refusal(DeltaInterop.mergeDelta(spark, delta, dup, Seq("id"), 6000L))
      .contains("mergeDelta: 2 duplicate key(s)"))
    assert(listing(delta) == deltaBefore)

    val ice = dir("graft_dup_ice")
    IcebergInterop.exportIceberg(source("graft_dup_isrc", partitioned = false), ice, tsMillis = 5000L)
    val iceBefore = listing(ice)
    assert(refusal(IcebergInterop.upsertIceberg(spark, ice, dup, Seq("id"), 6000L))
      .contains("upsertIceberg: 2 duplicate key(s)"))
    assert(listing(ice) == iceBefore)

    val t = source("graft_dup_tx", partitioned = false)
    assert(refusal(t.applyCdc(dup, Seq(9L).toDF("id"), Seq("id"), 2000L))
      .contains("carries 2 duplicate key(s)"))
    assert(t.version() == 0L)
    // an empty batch is refused too, and a keyed merge of null keys is not
    // a duplicate of anything else
    val empty = staged(Seq.empty[(Long, Long, Double)].toDF("id", "day", "v"))
    assert(refusal(DeltaInterop.mergeDelta(spark, delta, empty, Seq("id"), 6000L)).contains("no rows"))
    assert(refusal(IcebergInterop.upsertIceberg(spark, ice, empty, Seq("id"), 6000L)).contains("no rows"))
    assert(listing(delta) == deltaBefore && listing(ice) == iceBefore)
  }

  test("mergeDelta counts on partitioned and name-mapped tables") {
    // a partitioned table whose batch moves rows across partitions and
    // spreads the new files over several of them
    val part = dir("graft_counts_part")
    DeltaInterop.exportDelta(source("graft_counts_psrc", partitioned = true), part, tsMillis = 5000L)
    val moved = staged((Seq(0L, 1L, 2L, 39L) ++ (500L until 505L))
      .map(i => (i, (i + 1) % 3, -i.toDouble)).toDF("id", "day", "v"))
    assert(DeltaInterop.mergeDelta(spark, part, moved, Seq("id"), 6000L) == ((4L, 9L)))
    assert(DeltaInterop.readDelta(spark, part).count() == 45L)
    // a name-mapped table: logical names in, physical names in the files
    val mapped = dir("graft_counts_mapped")
    DeltaInterop.exportDelta(source("graft_counts_msrc", partitioned = false), mapped, tsMillis = 5000L)
    DeltaInterop.renameDeltaColumn(spark, mapped, "v", "score", 5500L)
    val renamed = staged(Seq((3L, 0L, 30.5), (4L, 1L, 40.5), (900L, 0L, 9.0))
      .toDF("id", "day", "score"))
    assert(DeltaInterop.mergeDelta(spark, mapped, renamed, Seq("id"), 6000L) == ((2L, 3L)))
    assert(DeltaInterop.readDelta(spark, mapped).where(col("id") === 4L)
      .select("score").as[Double].collect().toSeq == Seq(40.5))
  }

  test("an equality-delete group whose files differ in a non-key column reads as the inferring reader did") {
    val ice = dir("graft_eq_group")
    IcebergInterop.exportIceberg(source("graft_eq_src", partitioned = false), ice, tsMillis = 5000L)
    assert(IcebergInterop.deleteFromIcebergByKey(spark, ice, Seq(1L, 2L).toDF("id"), 6000L) == 2L)
    assert(IcebergInterop.deleteFromIcebergByKey(spark, ice, Seq(3L).toDF("id"), 7000L) == 1L)
    val deletes = {
      val w = Files.walk(java.nio.file.Paths.get(ice, "data", "deletes"))
      try w.iterator().asScala.filter(_.toString.endsWith(".parquet")).toVector.sortBy(_.toString)
      finally w.close()
    }
    assert(deletes.size == 2)
    // one file also carries a column the other lacks (a writer that keeps
    // whole rows in its equality deletes)
    val wide = Files.createTempDirectory("graft_eq_wide").resolve("w").toString
    spark.read.parquet(deletes.head.toString).withColumn("note", org.apache.spark.sql.functions.lit("x"))
      .coalesce(1).write.parquet(wide)
    val part = Files.list(java.nio.file.Paths.get(wide)).iterator().asScala
      .find(_.toString.endsWith(".parquet")).get
    Files.copy(part, deletes.head, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    // the schema-inferring reader's answer: every key of either file dies
    val inferred = spark.read.parquet(deletes.map(_.toString): _*).select("id").as[Long].collect().toSet
    assert(inferred == Set(1L, 2L, 3L))
    val want = (0L until 40L).filterNot(inferred)
    assert(IcebergInterop.readIceberg(spark, ice).select("id").as[Long].collect().sorted.toSeq == want)
  }

  test("a data file without a sequence number raises instead of dropping its rows") {
    val seqOf = IcebergInterop.dataSequence("t", Seq("a.parquet" -> 3L))
    assert(seqOf(java.nio.file.Paths.get("/t/data/a.parquet")) == 3L)
    val e = intercept[IllegalArgumentException](seqOf(java.nio.file.Paths.get("/t/data/b.parquet")))
    assert(e.getMessage.contains("no data sequence number for data file b.parquet"))
  }
}
