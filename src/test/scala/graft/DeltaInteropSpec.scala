package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.sources.{DeltaInterop, TxTable}

/** Pins the open-format boundary: a TxTable exported with
  * [[DeltaInterop.exportDelta]] is a standard Delta table (protocol /
  * metaData / add actions with partitionValues), readable back through
  * [[DeltaInterop.readDelta]]; and readDelta honors foreign logs —
  * multi-commit add/remove replay, parquet checkpoints, URI-encoded
  * paths — while failing LOUDLY on reader features it cannot honor.
  */
class DeltaInteropSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String) = Files.createTempDirectory(prefix).toString

  private def sampleTable(): TxTable = {
    val t = TxTable(spark, tmp("delta_src"))
    t.append(Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "a", 30.0))
      .toDF("id", "k", "v"), tsMillis = 1000L)
    t.append(Seq((4L, "c", 40.0)).toDF("id", "k", "v"), tsMillis = 2000L)
    t
  }

  test("flat export round-trips through readDelta and is structurally a Delta table") {
    val t = sampleTable()
    val out = tmp("delta_exp")
    DeltaInterop.exportDelta(t, out, tsMillis = 5000L)

    // structural: single version-0 JSON commit with protocol, metaData, adds
    val log = Paths.get(out, "_delta_log", "0" * 20 + ".json")
    assert(Files.isRegularFile(log))
    val lines = Files.readAllLines(log).asScala
    assert(lines.exists(_.contains("\"protocol\"")))
    assert(lines.exists(_.contains("\"minReaderVersion\":1")))
    assert(lines.exists(_.contains("\"schemaString\"")))
    val addCount = lines.count(_.contains("\"add\""))
    val parquetOnDisk = Files.list(Paths.get(out)).iterator().asScala
      .count(_.toString.endsWith(".parquet"))
    assert(addCount == parquetOnDisk && addCount > 0,
      s"every data file must be added exactly once ($addCount adds, $parquetOnDisk files)")

    // content: readDelta == TxTable.read
    val got = DeltaInterop.readDelta(spark, out).orderBy("id").collect()
    val want = t.read().orderBy("id").collect()
    assert(got.toSeq == want.toSeq)
  }

  test("export is deterministic and re-export replaces the previous snapshot") {
    val t = sampleTable()
    val out = tmp("delta_det")
    DeltaInterop.exportDelta(t, out, tsMillis = 5000L)
    val first = Files.readAllLines(Paths.get(out, "_delta_log", "0" * 20 + ".json")).asScala.toSeq
    DeltaInterop.exportDelta(t, out, tsMillis = 5000L)
    val second = Files.readAllLines(Paths.get(out, "_delta_log", "0" * 20 + ".json")).asScala.toSeq
    assert(first == second, "same snapshot + same ts must export byte-identically")
    // mutate, re-export: reader sees the new snapshot only
    t.append(Seq((9L, "z", 90.0)).toDF("id", "k", "v"), tsMillis = 3000L)
    DeltaInterop.exportDelta(t, out, tsMillis = 6000L)
    assert(DeltaInterop.readDelta(spark, out).count() == t.read().count())
  }

  test("partitioned export: partitionValues recorded and restored (incl. null partition)") {
    val t = TxTable(spark, tmp("delta_part"))
    val df = Seq((1L, "2024-01-01", 1.0), (2L, "2024-01-02", 2.0), (3L, null, 3.0))
      .toDF("id", "day", "v")
    t.append(df, tsMillis = 1000L, partitionBy = Seq("day"))
    val out = tmp("delta_part_exp")
    DeltaInterop.exportDelta(t, out, tsMillis = 5000L)

    val log = Files.readAllLines(Paths.get(out, "_delta_log", "0" * 20 + ".json")).asScala
    assert(log.exists(_.contains("\"partitionColumns\":[\"day\"]")))
    assert(log.exists(_.contains("\"partitionValues\":{\"day\":\"2024-01-01\"}")))
    assert(log.exists(_.contains("\"partitionValues\":{\"day\":null}")),
      "the null-day file must record a null partition value")

    val got = DeltaInterop.readDelta(spark, out)
    // readDelta follows the metaData schema order (the Delta contract: the
    // logical schema, partition cols in their declared positions) — the
    // original append order, NOT Spark's partition-cols-last read order
    assert(got.columns.toSeq == Seq("id", "day", "v"))
    assert(got.columns.toSet == t.read().columns.toSet)
    val rows = got.orderBy("id").collect()
    assert(rows.map(_.getAs[String]("day")).toSeq == Seq("2024-01-01", "2024-01-02", null))
    assert(rows.map(_.getAs[Double]("v")).toSeq == Seq(1.0, 2.0, 3.0))
  }

  test("literal '+' in partition values survives the round trip (no form-decoding)") {
    // Hive dir names leave '+' unescaped and delta-spark leaves it
    // unencoded in add.path — URLDecoder-style form decoding would turn
    // it into a space and corrupt both the path and the recorded value
    val t = TxTable(spark, tmp("delta_plus"))
    t.append(Seq((1L, "a+b", 1.0), (2L, "c d", 2.0)).toDF("id", "day", "v"),
      tsMillis = 1000L, partitionBy = Seq("day"))
    val out = tmp("delta_plus_exp")
    DeltaInterop.exportDelta(t, out, tsMillis = 5000L)
    val log = Files.readAllLines(Paths.get(out, "_delta_log", "0" * 20 + ".json")).asScala
    assert(log.exists(_.contains("\"partitionValues\":{\"day\":\"a+b\"}")),
      s"'+' must stay literal in partitionValues: ${log.filter(_.contains("add")).mkString("\n")}")
    val got = DeltaInterop.readDelta(spark, out).orderBy("id").collect()
    assert(got.map(_.getAs[String]("day")).toSeq == Seq("a+b", "c d"))
  }

  test("foreign log: multi-commit add/remove replay with URI-encoded paths") {
    // hand-written log, as another engine would produce it — no TxTable
    val root = Paths.get(tmp("delta_foreign"))
    val logDir = root.resolve("_delta_log"); Files.createDirectories(logDir)
    Seq((1L, "x"), (2L, "y")).toDF("id", "s").coalesce(1)
      .write.parquet(root.resolve("d one").toString) // space → URI-encoded path
    Seq((3L, "z")).toDF("id", "s").coalesce(1)
      .write.parquet(root.resolve("d2").toString)
    def firstParquet(dir: String): String = {
      val s = Files.list(root.resolve(dir))
      try dir + "/" + s.iterator().asScala
        .find(_.toString.endsWith(".parquet")).get.getFileName.toString
      finally s.close()
    }
    val f1 = firstParquet("d one")
    val f2 = firstParquet("d2")
    val schemaJson = Seq((1L, "x")).toDF("id", "s").schema.json
      .replace("\"", "\\\"")
    Files.write(logDir.resolve("0" * 20 + ".json"), Seq(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
      s"""{"metaData":{"id":"t1","format":{"provider":"parquet","options":{}},"schemaString":"$schemaJson","partitionColumns":[],"configuration":{}}}""",
      s"""{"add":{"path":"${f1.replace("d one", "d%20one")}","partitionValues":{},"size":1,"modificationTime":1,"dataChange":true}}"""
    ).asJava)
    Files.write(logDir.resolve("0" * 19 + "1.json"), Seq(
      s"""{"add":{"path":"$f2","partitionValues":{},"size":1,"modificationTime":2,"dataChange":true}}""",
      s"""{"remove":{"path":"${f1.replace("d one", "d%20one")}","dataChange":true}}"""
    ).asJava)

    val got = DeltaInterop.readDelta(spark, root.toString).orderBy("id").collect()
    assert(got.map(_.getLong(0)).toSeq == Seq(3L), "v1 removed the first file")
  }

  test("parquet checkpoint: _last_checkpoint base plus JSON tail") {
    val root = Paths.get(tmp("delta_ckpt"))
    val logDir = root.resolve("_delta_log"); Files.createDirectories(logDir)
    Seq((1L, 1.5)).toDF("id", "v").coalesce(1).write.parquet(root.resolve("p0").toString)
    Seq((2L, 2.5)).toDF("id", "v").coalesce(1).write.parquet(root.resolve("p1").toString)
    def firstParquet(dir: String): String = {
      val s = Files.list(root.resolve(dir))
      try dir + "/" + s.iterator().asScala
        .find(_.toString.endsWith(".parquet")).get.getFileName.toString
      finally s.close()
    }
    val schemaJson = Seq((1L, 1.5)).toDF("id", "v").schema.json

    // checkpoint at version 3 holding protocol + metaData + one add
    val ckptRows = Seq(
      (Some((1, 2)), Option.empty[(String, Map[String, String])], Some((schemaJson, Seq.empty[String]))),
      (None, Some((firstParquet("p0"), Map.empty[String, String])), None))
      .toDF("protocol_t", "add_t", "meta_t")
      .select(
        col("protocol_t").cast("struct<minReaderVersion:int,minWriterVersion:int>").as("protocol"),
        col("add_t").cast("struct<path:string,partitionValues:map<string,string>>").as("add"),
        col("meta_t").cast("struct<schemaString:string,partitionColumns:array<string>>").as("metaData"))
    val ckptTmp = tmp("ckpt_stage")
    ckptRows.coalesce(1).write.mode("overwrite").parquet(ckptTmp)
    val part = Files.list(Paths.get(ckptTmp))
    val src = try part.iterator().asScala.find(_.toString.endsWith(".parquet")).get finally part.close()
    Files.copy(src, logDir.resolve("0" * 19 + "3.checkpoint.parquet"))
    Files.write(logDir.resolve("_last_checkpoint"), Seq("""{"version":3,"size":2}""").asJava)
    // JSON tail: version 4 adds the second file
    Files.write(logDir.resolve("0" * 19 + "4.json"), Seq(
      s"""{"add":{"path":"${firstParquet("p1")}","partitionValues":{},"size":1,"modificationTime":2,"dataChange":true}}"""
    ).asJava)

    val got = DeltaInterop.readDelta(spark, root.toString).orderBy("id").collect()
    assert(got.map(_.getLong(0)).toSeq == Seq(1L, 2L), "checkpoint base + tail add")
  }

  test("unsupported tables fail loudly: column mapping, deletion vectors, high reader version") {
    def foreign(actions: Seq[String]): String = {
      val root = Paths.get(tmp("delta_bad"))
      val logDir = root.resolve("_delta_log"); Files.createDirectories(logDir)
      Files.write(logDir.resolve("0" * 20 + ".json"), actions.asJava)
      root.toString
    }
    val schemaJson = Seq((1L, "x")).toDF("id", "s").schema.json.replace("\"", "\\\"")
    val meta = s""""id":"t","format":{"provider":"parquet","options":{}},"schemaString":"$schemaJson","partitionColumns":[]"""

    // an UNKNOWN column-mapping mode refuses (name mode is readable since
    // round 10, id mode since round 12 — both pinned in their own tests)
    val cm = foreign(Seq(
      """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
      s"""{"metaData":{$meta,"configuration":{"delta.columnMapping.mode":"weird"}}}"""))
    assert(intercept[IllegalArgumentException](
      DeltaInterop.readDelta(spark, cm)).getMessage.contains("column mapping"))

    // a MALFORMED deletion-vector descriptor is loud (round 10: DVs are
    // supported, so the gate moved from wholesale refusal to validation)
    val dv = foreign(Seq(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
      s"""{"metaData":{$meta,"configuration":{}}}""",
      """{"add":{"path":"x.parquet","partitionValues":{},"size":1,"modificationTime":1,"dataChange":true,"deletionVector":{"storageType":"u","pathOrInlineDv":"a","offset":1,"sizeInBytes":1,"cardinality":1}}}"""))
    assert(intercept[IllegalArgumentException](
      DeltaInterop.readDelta(spark, dv)).getMessage.contains("encoded UUID"))

    val hi = foreign(Seq(
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["v2Checkpoint"]}}""",
      s"""{"metaData":{$meta,"configuration":{}}}"""))
    assert(intercept[IllegalArgumentException](
      DeltaInterop.readDelta(spark, hi)).getMessage.contains("reader features"))

    // honored v3 features pass (deletionVectors since round 10)
    val ok = foreign(Seq(
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["timestampNtz","deletionVectors"]}}""",
      s"""{"metaData":{$meta,"configuration":{}}}"""))
    assert(DeltaInterop.readDelta(spark, ok).count() == 0L) // no adds: empty table
  }

  test("deleteFromDelta: DV commit, live reads, time travel, stacking, idempotence") {
    val t = TxTable(spark, tmp("delta_dv_src"))
    t.append((0L until 40L).map(i => (i, s"k${i % 4}", i * 1.5)).toDF("id", "k", "v"),
      tsMillis = 1000L)
    val out = tmp("delta_dv_exp")
    DeltaInterop.exportDelta(t, out, tsMillis = 5000L)

    val n = DeltaInterop.deleteFromDelta(spark, out, col("id") % 5 === 0, tsMillis = 6000L)
    assert(n == 8L, s"expected 8 deleted positions, got $n")
    val live = DeltaInterop.readDelta(spark, out)
    assert(live.count() == 32L && live.where(col("id") % 5 === 0).count() == 0L)
    assert(live.orderBy("id").collect().toSeq ==
      t.read().where(col("id") % 5 =!= 0).orderBy("id").collect().toSeq)

    // the commit is structurally what the protocol asks of DV writers
    val commit1 = new String(Files.readAllBytes(
      Paths.get(out, "_delta_log", f"${1L}%020d.json")))
    assert(commit1.contains("\"minReaderVersion\":3"))
    assert(commit1.contains("\"deletionVectors\""))
    assert(commit1.contains("\"storageType\":\"u\""))
    assert(commit1.contains("\"remove\""), "a DV rewrite removes the previous entry")
    val dvFiles = Files.list(Paths.get(out)).iterator().asScala
      .filter(_.getFileName.toString.startsWith("deletion_vector_")).toSeq
    assert(dvFiles.nonEmpty, "the DV file must live in the table root")

    // time travel below the delete reads ALL rows
    assert(DeltaInterop.readDelta(spark, out, versionAsOf = Some(0L)).count() == 40L)

    // idempotent: re-deleting the same predicate is a no-op
    assert(DeltaInterop.deleteFromDelta(spark, out, col("id") % 5 === 0, 7000L) == 0L)
    assert(!Files.exists(Paths.get(out, "_delta_log", f"${2L}%020d.json")))

    // stacked delete UNIONS with the existing DV per file
    assert(DeltaInterop.deleteFromDelta(spark, out, col("id") === 7L, 8000L) == 1L)
    val live2 = DeltaInterop.readDelta(spark, out)
    assert(live2.count() == 31L && live2.where(col("id") === 7L).count() == 0L)
    val commit2 = new String(Files.readAllBytes(
      Paths.get(out, "_delta_log", f"${2L}%020d.json")))
    assert(commit2.contains("\"remove\""), "stacking rewrites the file's entry")

    // pruned reads apply DVs too; incremental consumption refuses, loudly
    assert(DeltaInterop.readDeltaPruned(spark, out, _ => true).count() == 31L)
    val e = intercept[IllegalArgumentException](
      DeltaInterop.readDeltaChanges(spark, out, 0L))
    assert(e.getMessage.contains("re-sync from the full snapshot"))

    // a deleted DV file is loud on read (resurrecting rows is corruption)
    dvFiles.foreach(Files.delete)
    Files.list(Paths.get(out)).iterator().asScala
      .filter(_.getFileName.toString.startsWith("deletion_vector_"))
      .foreach(Files.delete)
    val e2 = intercept[IllegalArgumentException](
      DeltaInterop.readDelta(spark, out).count())
    assert(e2.getMessage.contains("missing"))

  }

  test("partitioned deletion vectors: predicate over log-only partition columns, purge per partition, cdf") {
    val t = TxTable(spark, tmp("delta_pdv"))
    t.append(Seq((1L, "2024-01-01", 1.0), (2L, "2024-01-02", 2.0),
        (3L, "2024-01-01", 3.0), (4L, "2024-01-03", 4.0),
        (5L, "2024-01-02", 5.0))
      .toDF("id", "day", "v"), tsMillis = 1000L, partitionBy = Seq("day"))
    val out = tmp("delta_pdv_exp")
    DeltaInterop.exportDelta(t, out, tsMillis = 5000L)                       // v0
    t.append(Seq((6L, "2024-01-01", 6.0)).toDF("id", "day", "v"),
      tsMillis = 2000L, partitionBy = Seq("day"))
    assert(DeltaInterop.exportDeltaIncremental(t, out, tsMillis = 6000L) == 1L) // v1
    DeltaInterop.setDeltaTableProperty(spark, out,
      "delta.enableChangeDataFeed", "true", tsMillis = 7000L)                // v2
    // the predicate mixes the LOG-ONLY partition column with a data
    // column: days 01 (ids 1,3) and 02 (id 2) are touched, day 03 is not
    assert(DeltaInterop.deleteFromDelta(spark, out,
      col("id") <= 2L || (col("day") === "2024-01-01" && col("v") === 3.0),
      tsMillis = 8000L) == 3L)                                               // v3
    val live = DeltaInterop.readDelta(spark, out)
    assert(live.columns.toSeq == Seq("id", "day", "v"))
    assert(live.select("id").as[Long].collect().sorted.toSeq == Seq(4L, 5L, 6L))
    // the DV re-adds RESTATED partitionValues: the pruner still sees the
    // files in their partitions
    assert(DeltaInterop.readDeltaPruned(spark, out,
        keep = pv => pv.get("day").flatten.contains("2024-01-01"))
      .select("id").as[Long].collect().sorted.toSeq == Seq(6L))
    // time travel below the delete reads all rows
    assert(DeltaInterop.readDelta(spark, out, versionAsOf = Some(1L)).count() == 6L)
    // the feed: v1 whole-file insert synthesis and v3 cdc deletes BOTH
    // fill the partition column from the actions' partitionValues
    val (_, cdf) = DeltaInterop.readDeltaCdf(spark, out, sinceVersion = 0L)
    val rows = cdf.select("id", "day", "_change_type", "_commit_version")
      .as[(Long, String, String, Long)].collect().toSet
    assert(rows == Set((6L, "2024-01-01", "insert", 1L),
      (1L, "2024-01-01", "delete", 3L), (2L, "2024-01-02", "delete", 3L),
      (3L, "2024-01-01", "delete", 3L)), s"got $rows")
    // the cdc actions carry their partitions' values
    val v3Txt = Files.readAllLines(
      Paths.get(out, "_delta_log", "0" * 19 + "3.json")).asScala.mkString
    assert(v3Txt.contains("\"cdc\"") && v3Txt.contains("2024-01-02"), v3Txt)
    // purge rewrites survivors PER PARTITION with honest partitionValues
    val (nf, dead) = DeltaInterop.purgeDeltaDvs(spark, out, tsMillis = 9000L) // v4
    assert(nf == 2 && dead == 3L, s"($nf, $dead)")
    val purged = DeltaInterop.readDelta(spark, out)
    assert(purged.select("id").as[Long].collect().sorted.toSeq == Seq(4L, 5L, 6L))
    assert(DeltaInterop.readDeltaPruned(spark, out,
        keep = pv => pv.get("day").flatten.contains("2024-01-02"))
      .select("id").as[Long].collect().toSeq == Seq(5L))
    // feed invariance across the purge (dataChange=false is skipped)
    assert(DeltaInterop.readDeltaCdf(spark, out, 0L)._2
      .select("id", "day", "_change_type", "_commit_version")
      .as[(Long, String, String, Long)].collect().toSet == rows)
  }

  test("purgeDeltaDvs rewrites ONLY the DV'd files and clears the vectors") {
    val t = TxTable(spark, tmp("delta_purge_src"))
    t.append((0L until 20L).map(i => (i, i * 2.0)).toDF("id", "v").coalesce(1),
      tsMillis = 1000L)
    t.append((20L until 40L).map(i => (i, i * 2.0)).toDF("id", "v").coalesce(1),
      tsMillis = 2000L)
    val out = tmp("delta_purge_exp")
    DeltaInterop.exportDelta(t, out, tsMillis = 5000L)
    assert(DeltaInterop.deleteFromDelta(spark, out, col("id") < 4, 6000L) == 4L)
    val pre = DeltaInterop.readDelta(spark, out).orderBy("id").collect().toSeq
    val preFiles = DeltaInterop.readDelta(spark, out).inputFiles.toSet

    val (nf, reclaimed) = DeltaInterop.purgeDeltaDvs(spark, out, 7000L)
    assert(nf == 1 && reclaimed == 4L, s"($nf, $reclaimed)")
    val post = DeltaInterop.readDelta(spark, out)
    assert(post.orderBy("id").collect().toSeq == pre,
      "the purge must be invisible to the live view")
    val postFiles = post.inputFiles.toSet
    assert(postFiles.exists(_.contains("compacted")), "rewritten file missing")
    assert((postFiles intersect preFiles).size == preFiles.size - 1,
      "exactly one original file should be replaced")
    // idempotent; history still time-travels to the masked and full views
    assert(DeltaInterop.purgeDeltaDvs(spark, out, 8000L) == ((0, 0L)))
    assert(DeltaInterop.readDelta(spark, out, versionAsOf = Some(0L)).count() == 40L)
    assert(DeltaInterop.readDelta(spark, out, versionAsOf = Some(1L)).count() == 36L)
  }

  test("deletion vectors survive a checkpoint (add.deletionVector rides the parquet)") {
    val t = TxTable(spark, tmp("delta_dvc_src"))
    t.append((0L until 20L).map(i => (i, i * 2.0)).toDF("id", "v"), tsMillis = 1000L)
    val out = tmp("delta_dvc_exp")
    DeltaInterop.exportDelta(t, out, tsMillis = 5000L)
    assert(DeltaInterop.deleteFromDelta(spark, out, col("id") < 5, 6000L) == 5L)
    // checkpoint AFTER the DV commit: the checkpointed add must carry it
    DeltaInterop.writeDeltaCheckpoint(spark, out, v = 1L, tsMillis = 7000L)
    // drop the JSON commits the checkpoint covers so the read MUST go
    // through the checkpointed adds
    Files.delete(Paths.get(out, "_delta_log", f"${0L}%020d.json"))
    Files.delete(Paths.get(out, "_delta_log", f"${1L}%020d.json"))
    val live = DeltaInterop.readDelta(spark, out)
    assert(live.count() == 15L && live.where(col("id") < 5).count() == 0L,
      "a checkpoint must not resurrect DV-deleted rows")
  }

  test("versionAsOf time-travels a foreign log; gapless-replay guard fires on cleaned logs") {
    val root = Paths.get(tmp("delta_tt"))
    val logDir = root.resolve("_delta_log"); Files.createDirectories(logDir)
    Seq((1L, "x")).toDF("id", "s").coalesce(1).write.parquet(root.resolve("d0").toString)
    Seq((2L, "y")).toDF("id", "s").coalesce(1).write.parquet(root.resolve("d1").toString)
    def firstParquet(dir: String): String = {
      val s = Files.list(root.resolve(dir))
      try dir + "/" + s.iterator().asScala
        .find(_.toString.endsWith(".parquet")).get.getFileName.toString
      finally s.close()
    }
    val schemaJson = Seq((1L, "x")).toDF("id", "s").schema.json.replace("\"", "\\\"")
    Files.write(logDir.resolve("0" * 20 + ".json"), Seq(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
      s"""{"metaData":{"id":"t","format":{"provider":"parquet","options":{}},"schemaString":"$schemaJson","partitionColumns":[],"configuration":{}}}""",
      s"""{"add":{"path":"${firstParquet("d0")}","partitionValues":{},"size":1,"modificationTime":1,"dataChange":true}}"""
    ).asJava)
    Files.write(logDir.resolve("0" * 19 + "1.json"), Seq(
      s"""{"add":{"path":"${firstParquet("d1")}","partitionValues":{},"size":1,"modificationTime":2,"dataChange":true}}"""
    ).asJava)

    assert(DeltaInterop.readDelta(spark, root.toString).count() == 2L)
    assert(DeltaInterop.readDelta(spark, root.toString, versionAsOf = Some(0L))
      .collect().map(_.getLong(0)).toSeq == Seq(1L))
    assert(intercept[IllegalArgumentException](
      DeltaInterop.readDelta(spark, root.toString, versionAsOf = Some(7L)))
      .getMessage.contains("does not exist"))
    // simulate log retention cleaning commit 0: replay has a gap -> loud
    Files.delete(logDir.resolve("0" * 20 + ".json"))
    assert(intercept[IllegalArgumentException](
      DeltaInterop.readDelta(spark, root.toString)).getMessage.contains("gaps"))
  }

  test("FeatureStore.exportDelta hands the whole persisted store to external engines") {
    import graft.store._
    val now = java.sql.Timestamp.valueOf("2024-02-01 00:00:00")
    val fs = new FeatureStore(spark)
    val Right(f) = fs.registerFeature("hr", "1.0.0",
      FeatureSchemaMeta("hr", "float64", entity_type = "patient"),
      FeatureSourceMeta("batch"), "o", now)
    fs.activateFeature(f.feature_id, now)
    val df = Seq(("p1", "hr", Some(70.0), ts("2024-01-01 00:00:00")))
      .toDF("entity_id", "feature_name", "value_double", "event_timestamp")
      .withColumn("value_string", lit(null).cast("string"))
    fs.ingestValues(df, Map("hr" -> f.feature_id), now)
    val txPath = tmp("fs_tx")
    fs.saveTx(txPath, tsMillis = 1000L)
    val out = tmp("fs_delta")
    FeatureStore.exportDelta(spark, txPath, out, tsMillis = 5000L)
    for (t <- Seq("registry", "feature_values", "audit_log")) {
      assert(Files.isRegularFile(Paths.get(out, t, "_delta_log", "0" * 20 + ".json")), t)
      assert(DeltaInterop.readDelta(spark, s"$out/$t").count() ==
        graft.sources.TxTable(spark, s"$txPath/$t").read().count(), t)
    }
  }

  test("incremental export: one commit per delta, mirror == source at every step") {
    val t = sampleTable()
    val out = tmp("delta_incr")
    // first call on an empty target = full version-0 export
    assert(DeltaInterop.exportDeltaIncremental(t, out, tsMillis = 5000L) == 0L)
    assert(DeltaInterop.readDelta(spark, out).count() == 4L)
    // identical snapshot -> no new commit
    assert(DeltaInterop.exportDeltaIncremental(t, out, tsMillis = 5001L) == 0L)
    assert(!Files.exists(Paths.get(out, "_delta_log", "0" * 19 + "1.json")),
      "an unchanged snapshot must not commit")
    // append -> version 1 with ONLY the new file's add action
    t.append(Seq((9L, "z", 90.0)).toDF("id", "k", "v"), tsMillis = 3000L)
    assert(DeltaInterop.exportDeltaIncremental(t, out, tsMillis = 6000L) == 1L)
    val v1 = Files.readAllLines(Paths.get(out, "_delta_log", "0" * 19 + "1.json")).asScala
    assert(v1.count(_.contains("\"add\"")) == 1, s"only the delta is committed: $v1")
    assert(!v1.exists(_.contains("\"remove\"")))
    val got = DeltaInterop.readDelta(spark, out).orderBy("id").collect()
    assert(got.toSeq == t.read().orderBy("id").collect().toSeq)
    // time travel into the mirror's own history still works (nothing removed)
    assert(DeltaInterop.readDelta(spark, out, versionAsOf = Some(0L)).count() == 4L)
  }

  test("incremental export mirrors removals: remove actions + physical retirement") {
    val t = sampleTable()
    val out = tmp("delta_incr_rm")
    DeltaInterop.exportDeltaIncremental(t, out, tsMillis = 5000L)
    val filesBefore = Files.list(Paths.get(out)).iterator().asScala
      .count(_.toString.endsWith(".parquet"))
    // compaction rewrites the layout: the mirror must swap old files for new
    t.compact(target = 1, tsMillis = 3000L)
    assert(DeltaInterop.exportDeltaIncremental(t, out, tsMillis = 6000L) == 1L)
    val v1 = Files.readAllLines(Paths.get(out, "_delta_log", "0" * 19 + "1.json")).asScala
    assert(v1.exists(_.contains("\"remove\"")), "compacted-away files must be removed")
    // physically retired: a directory glob equals the latest snapshot (the
    // cross-engine-oracle contract — DuckDB reads *.parquet, no log)
    val filesAfter = Files.list(Paths.get(out)).iterator().asScala
      .count(_.toString.endsWith(".parquet"))
    assert(filesAfter == 1 && filesAfter < filesBefore,
      s"mirror must retire unreferenced bytes ($filesBefore -> $filesAfter)")
    assert(DeltaInterop.readDelta(spark, out).orderBy("id").collect().toSeq ==
      t.read().orderBy("id").collect().toSeq)
  }

  test("incremental export carries schema evolution as a fresh metaData action") {
    val t = sampleTable()
    val out = tmp("delta_incr_ev")
    DeltaInterop.exportDeltaIncremental(t, out, tsMillis = 5000L)
    t.append(Seq((9L, "z", 90.0, "extra")).toDF("id", "k", "v", "note"),
      tsMillis = 3000L, evolve = true)
    DeltaInterop.exportDeltaIncremental(t, out, tsMillis = 6000L)
    val v1 = Files.readAllLines(Paths.get(out, "_delta_log", "0" * 19 + "1.json")).asScala
    assert(v1.exists(_.contains("\"metaData\"")), "widened schema must re-declare metaData")
    val got = DeltaInterop.readDelta(spark, out)
    assert(got.columns.contains("note"))
    assert(got.where(col("note").isNotNull).count() == 1L)
  }

  test("checkpoint cadence: writeDeltaCheckpoint compacts replay and readers use it") {
    val t = sampleTable()
    val out = tmp("delta_incr_ck")
    // checkpointInterval=1: every incremental commit also checkpoints
    DeltaInterop.exportDeltaIncremental(t, out, tsMillis = 5000L, checkpointInterval = 1)
    t.append(Seq((9L, "z", 90.0)).toDF("id", "k", "v"), tsMillis = 3000L)
    assert(DeltaInterop.exportDeltaIncremental(t, out, tsMillis = 6000L, checkpointInterval = 1) == 1L)
    val logDir = Paths.get(out, "_delta_log")
    assert(Files.isRegularFile(logDir.resolve("0" * 19 + "1.checkpoint.parquet")))
    val ptr = Files.readAllLines(logDir.resolve("_last_checkpoint")).asScala.mkString
    assert(ptr.contains("\"version\":1"), ptr)
    // the checkpoint alone must reconstruct the table: delete the JSON
    // commits it covers (Delta log retention does exactly this)
    Files.delete(logDir.resolve("0" * 20 + ".json"))
    Files.delete(logDir.resolve("0" * 19 + "1.json"))
    val got = DeltaInterop.readDelta(spark, out).orderBy("id").collect()
    assert(got.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L, 4L, 9L),
      "replay from the checkpoint alone must see the full live set")
  }

  test("a checkpoint leaves no staging or temp file in the log and keeps one already written") {
    val out = tmp("delta_ckpt_clean")
    DeltaInterop.exportDelta(sampleTable(), out, tsMillis = 5000L)
    val logDir = Paths.get(out, "_delta_log")
    val ckpt = logDir.resolve("0" * 20 + ".checkpoint.parquet")
    DeltaInterop.writeDeltaCheckpoint(spark, out, 0L, tsMillis = 6000L)
    val (inode, bytes) = (Files.getAttribute(ckpt, "unix:ino"), Files.readAllBytes(ckpt).toSeq)
    // a second checkpoint of version 0 (its rows carry another timestamp)
    DeltaInterop.writeDeltaCheckpoint(spark, out, 0L, tsMillis = 7000L)
    assert(Files.getAttribute(ckpt, "unix:ino") == inode && Files.readAllBytes(ckpt).toSeq == bytes,
      "an existing checkpoint of the same version must be kept")
    val left = Files.list(logDir).iterator().asScala.map(_.getFileName.toString)
      .filter(n => n.startsWith(".ckpt-") || n.startsWith(".tmp") || n.startsWith(".staging")).toSeq
    assert(left.isEmpty, left)
    assert(Files.readAllLines(logDir.resolve("_last_checkpoint")).asScala.mkString.contains("\"version\":0"))
    Files.delete(logDir.resolve("0" * 20 + ".json"))
    assert(DeltaInterop.readDelta(spark, out).count() == 4L, "the checkpoint alone reads the table")
  }

  test("adversarial logs fail loudly: truncated JSON, scheme URIs, protocol-less checkpoint") {
    // truncated commit line (half-written by a crashed writer)
    val root = Paths.get(tmp("delta_trunc"))
    val logDir = root.resolve("_delta_log"); Files.createDirectories(logDir)
    Files.write(logDir.resolve("0" * 20 + ".json"), Seq(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
      """{"add":{"path":"x.parquet","partitionValues":{},"si""").asJava)
    val e1 = intercept[IllegalStateException](DeltaInterop.readDelta(spark, root.toString))
    assert(e1.getMessage.contains("malformed action line") && e1.getMessage.contains("commit 0"))

    // scheme-qualified URI path (shallow clone / external storage)
    val root2 = Paths.get(tmp("delta_scheme"))
    val logDir2 = root2.resolve("_delta_log"); Files.createDirectories(logDir2)
    val schemaJson = Seq((1L, "x")).toDF("id", "s").schema.json.replace("\"", "\\\"")
    Files.write(logDir2.resolve("0" * 20 + ".json"), Seq(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
      s"""{"metaData":{"id":"t","format":{"provider":"parquet","options":{}},"schemaString":"$schemaJson","partitionColumns":[],"configuration":{}}}""",
      """{"add":{"path":"s3://bucket/x.parquet","partitionValues":{},"size":1,"modificationTime":1,"dataChange":true}}"""
    ).asJava)
    assert(intercept[IllegalArgumentException](
      DeltaInterop.readDelta(spark, root2.toString))
      .getMessage.contains("scheme-qualified"))

    // checkpoint with NO protocol row: must refuse, not skip the gate
    // (round-6 advice: a column-mapped table could hide behind it)
    val root3 = Paths.get(tmp("delta_noproto"))
    val logDir3 = root3.resolve("_delta_log"); Files.createDirectories(logDir3)
    val ckptRows = Seq((("x.parquet", Map.empty[String, String]), (schemaJson.replace("\\\"", "\""), Seq.empty[String])))
      .toDF("add_t", "meta_t")
      .select(
        col("add_t").cast("struct<path:string,partitionValues:map<string,string>>").as("add"),
        col("meta_t").cast("struct<schemaString:string,partitionColumns:array<string>>").as("metaData"))
    val stage = tmp("noproto_stage")
    ckptRows.coalesce(1).write.mode("overwrite").parquet(stage)
    val s3 = Files.list(Paths.get(stage))
    val src = try s3.iterator().asScala.find(_.toString.endsWith(".parquet")).get finally s3.close()
    Files.copy(src, logDir3.resolve("0" * 19 + "2.checkpoint.parquet"))
    Files.write(logDir3.resolve("_last_checkpoint"), Seq("""{"version":2,"size":2}""").asJava)
    assert(intercept[IllegalArgumentException](
      DeltaInterop.readDelta(spark, root3.toString))
      .getMessage.contains("no protocol"))
  }

  test("duplicate adds of one path collapse to a single live entry (last wins)") {
    val root = Paths.get(tmp("delta_dup"))
    val logDir = root.resolve("_delta_log"); Files.createDirectories(logDir)
    Seq((1L, "x")).toDF("id", "s").coalesce(1).write.parquet(root.resolve("d0").toString)
    def firstParquet(dir: String): String = {
      val s = Files.list(root.resolve(dir))
      try dir + "/" + s.iterator().asScala
        .find(_.toString.endsWith(".parquet")).get.getFileName.toString
      finally s.close()
    }
    val f = firstParquet("d0")
    val schemaJson = Seq((1L, "x")).toDF("id", "s").schema.json.replace("\"", "\\\"")
    Files.write(logDir.resolve("0" * 20 + ".json"), Seq(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
      s"""{"metaData":{"id":"t","format":{"provider":"parquet","options":{}},"schemaString":"$schemaJson","partitionColumns":[],"configuration":{}}}""",
      s"""{"add":{"path":"$f","partitionValues":{},"size":1,"modificationTime":1,"dataChange":true}}""",
      s"""{"add":{"path":"$f","partitionValues":{},"size":1,"modificationTime":2,"dataChange":false}}"""
    ).asJava)
    // one live entry, not a double-scan of the same bytes
    assert(DeltaInterop.readDelta(spark, root.toString).count() == 1L)
  }

  test("reader version 2 without a metaData configuration is refused (unverifiable column mapping)") {
    // mrv 2 exists FOR column mapping; a v2 table whose metaData omits the
    // configuration object entirely cannot be proven safe — reading it
    // could map col-<uuid> physical names to all-null logical columns
    val root = Paths.get(tmp("delta_mrv2"))
    val logDir = root.resolve("_delta_log"); Files.createDirectories(logDir)
    val schemaJson = Seq((1L, "x")).toDF("id", "s").schema.json.replace("\"", "\\\"")
    Files.write(logDir.resolve("0" * 20 + ".json"), Seq(
      """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
      s"""{"metaData":{"id":"t","format":{"provider":"parquet","options":{}},"schemaString":"$schemaJson","partitionColumns":[]}}"""
    ).asJava)
    assert(intercept[IllegalArgumentException](
      DeltaInterop.readDelta(spark, root.toString))
      .getMessage.contains("no configuration"))
    // the SAME table at mrv 1 reads fine (column mapping cannot exist there)
    Files.write(logDir.resolve("0" * 20 + ".json"), Seq(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
      s"""{"metaData":{"id":"t","format":{"provider":"parquet","options":{}},"schemaString":"$schemaJson","partitionColumns":[]}}"""
    ).asJava)
    assert(DeltaInterop.readDelta(spark, root.toString).count() == 0L)
  }

  test("mrv-2 gate holds when the protocol lives only in the checkpoint") {
    // protocol (mrv=2) + config'd metaData in the CHECKPOINT, then a JSON
    // tail re-declares metaData WITHOUT configuration: the replay must
    // still refuse — seeding maxMrv only from JSON commits missed this
    val root = Paths.get(tmp("delta_ckpt_mrv2"))
    val logDir = root.resolve("_delta_log"); Files.createDirectories(logDir)
    val schemaJson = Seq((1L, "x")).toDF("id", "s").schema.json
    val ckptRows = Seq(
      (Some((2, 5)), Option.empty[(String, Seq[String], Map[String, String])]),
      (None, Some((schemaJson, Seq.empty[String], Map.empty[String, String]))))
      .toDF("protocol_t", "meta_t")
      .select(
        col("protocol_t").cast("struct<minReaderVersion:int,minWriterVersion:int>").as("protocol"),
        col("meta_t").cast("struct<schemaString:string,partitionColumns:array<string>,configuration:map<string,string>>").as("metaData"))
    val stage = tmp("mrv2_stage")
    ckptRows.coalesce(1).write.mode("overwrite").parquet(stage)
    val s0 = Files.list(Paths.get(stage))
    val src = try s0.iterator().asScala.find(_.toString.endsWith(".parquet")).get finally s0.close()
    Files.copy(src, logDir.resolve("0" * 19 + "3.checkpoint.parquet"))
    Files.write(logDir.resolve("_last_checkpoint"), Seq("""{"version":3,"size":2}""").asJava)
    val escaped = schemaJson.replace("\"", "\\\"")
    Files.write(logDir.resolve("0" * 19 + "4.json"), Seq(
      s"""{"metaData":{"id":"t","format":{"provider":"parquet","options":{}},"schemaString":"$escaped","partitionColumns":[]}}"""
    ).asJava)
    assert(intercept[IllegalArgumentException](
      DeltaInterop.readDelta(spark, root.toString))
      .getMessage.contains("no configuration"))
  }

  test("readDeltaChanges: watermark-range consumption, head emptiness, remove refusal, bad watermark") {
    import spark.implicits._
    val t = sampleTable()
    val out = tmp("delta_changes")
    assert(DeltaInterop.exportDeltaIncremental(t, out, tsMillis = 5000L) == 0L)
    t.append(Seq((9L, "z", 90.0), (10L, "z", 91.0)).toDF("id", "k", "v"), tsMillis = 3000L)
    assert(DeltaInterop.exportDeltaIncremental(t, out, tsMillis = 6000L) == 1L)

    // consume from watermark 0: exactly the appended rows, watermark -> 1
    val (head, delta) = DeltaInterop.readDeltaChanges(spark, out, sinceVersion = 0L)
    assert(head == 1L)
    assert(delta.orderBy("id").collect().map(_.getLong(0)).toSeq == Seq(9L, 10L))
    // consume from before table birth (-1): the whole table as one delta
    val (_, all) = DeltaInterop.readDeltaChanges(spark, out, sinceVersion = -1L)
    assert(all.count() == 6L)
    // consumer at the head reads empty without advancing
    val (h2, none) = DeltaInterop.readDeltaChanges(spark, out, sinceVersion = 1L)
    assert(h2 == 1L && none.isEmpty)
    // a watermark AHEAD of the log is a consumer bug, loudly
    assert(intercept[IllegalArgumentException](
      DeltaInterop.readDeltaChanges(spark, out, sinceVersion = 7L))
      .getMessage.contains("ahead"))

    // compaction in the range rewrites history: append-only consumption
    // must refuse (remove actions present), not resurrect compacted rows
    t.compact(target = 1, tsMillis = 7000L)
    assert(DeltaInterop.exportDeltaIncremental(t, out, tsMillis = 8000L) == 2L)
    val e = intercept[Exception](
      DeltaInterop.readDeltaChanges(spark, out, sinceVersion = 1L)._2.count())
    assert(e.getMessage.contains("remove action"), e.getMessage)
    // but a consumer whose range is PAST the compaction reads cleanly
    t.append(Seq((11L, "w", 95.0)).toDF("id", "k", "v"), tsMillis = 9000L)
    assert(DeltaInterop.exportDeltaIncremental(t, out, tsMillis = 10000L) == 3L)
    val (h3, d3) = DeltaInterop.readDeltaChanges(spark, out, sinceVersion = 2L)
    assert(h3 == 3L && d3.collect().map(_.getLong(0)).toSeq == Seq(11L))
  }

  test("readDeltaPruned: partition-value pruning skips add files before any scan") {
    val t = TxTable(spark, tmp("delta_prune_src"))
    t.append(Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "a", 3.0))
      .toDF("id", "k", "v"), tsMillis = 1000L, partitionBy = Seq("k"))
    val out = tmp("delta_prune_exp")
    DeltaInterop.exportDelta(t, out, tsMillis = 5000L)
    val pruned = DeltaInterop.readDeltaPruned(spark, out,
      pv => pv.get("k").flatten.contains("a"))
    assert(pruned.orderBy("id").collect().map(_.getLong(0)).toSeq == Seq(1L, 3L))
    assert(pruned.inputFiles.length <
      DeltaInterop.readDelta(spark, out).inputFiles.length,
      "pruning must reduce the file list, not just filter rows")
    // empty prune: the typed empty frame
    assert(DeltaInterop.readDeltaPruned(spark, out, _ => false).isEmpty)
    // an unpartitioned table's files see the empty map (keep-all passes)
    val flat = sampleTable()
    val outF = tmp("delta_prune_flat")
    DeltaInterop.exportDelta(flat, outF, tsMillis = 5000L)
    assert(DeltaInterop.readDeltaPruned(spark, outF, pv => { assert(pv.isEmpty); true })
      .count() == flat.read().count())
  }

  test("readDeltaChanges refuses a range whose JSON commits never reach the checkpointed head") {
    // checkpoint at v2, JSON commits 0-1 present, 2 ABSENT (retention-cleaned
    // past the checkpoint): contiguity from since+1 alone would silently drop
    // v2's adds while still advancing the watermark to 2 — must fail loudly
    import org.apache.spark.sql.functions.col
    val root = Paths.get(tmp("delta_headgap"))
    val logDir = root.resolve("_delta_log"); Files.createDirectories(logDir)
    val schemaJson = Seq((1L, "x")).toDF("id", "s").schema.json
    val escaped = schemaJson.replace("\"", "\\\"")
    Files.write(logDir.resolve("0" * 20 + ".json"), Seq(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
      s"""{"metaData":{"id":"t","format":{"provider":"parquet","options":{}},"schemaString":"$escaped","partitionColumns":[],"configuration":{}}}""",
      """{"add":{"path":"part-0.parquet","partitionValues":{},"size":1,"modificationTime":1,"dataChange":true}}"""
    ).asJava)
    Files.write(logDir.resolve("0" * 19 + "1.json"), Seq(
      """{"add":{"path":"part-1.parquet","partitionValues":{},"size":1,"modificationTime":1,"dataChange":true}}"""
    ).asJava)
    val ckptRows = Seq(
      (Some((1, 2)), Option.empty[(String, Seq[String], Map[String, String])]),
      (None, Some((schemaJson, Seq.empty[String], Map.empty[String, String]))))
      .toDF("protocol_t", "meta_t")
      .select(
        col("protocol_t").cast("struct<minReaderVersion:int,minWriterVersion:int>").as("protocol"),
        col("meta_t").cast("struct<schemaString:string,partitionColumns:array<string>,configuration:map<string,string>>").as("metaData"))
    val stage = tmp("headgap_stage")
    ckptRows.coalesce(1).write.mode("overwrite").parquet(stage)
    val s0 = Files.list(Paths.get(stage))
    val src = try s0.iterator().asScala.find(_.toString.endsWith(".parquet")).get finally s0.close()
    Files.copy(src, logDir.resolve("0" * 19 + "2.checkpoint.parquet"))
    Files.write(logDir.resolve("_last_checkpoint"), Seq("""{"version":2,"size":2}""").asJava)

    val e = intercept[IllegalArgumentException](
      DeltaInterop.readDeltaChanges(spark, root.toString, sinceVersion = 0L))
    assert(e.getMessage.contains("no gapless JSON commits"), e.getMessage)
  }

  test("checkpoint scale probe: 100k add actions replay + checkpoint in metadata time") {
    // the daily-mirror shape at production file counts: the log is pure
    // driver-side metadata, so replaying 100k actions and writing the
    // compacting checkpoint must stay seconds, not minutes (O(actions),
    // no per-file I/O beyond an optional size stat that tolerates absence)
    val root = Paths.get(tmp("delta_100k"))
    val logDir = root.resolve("_delta_log"); Files.createDirectories(logDir)
    val schemaJson = Seq((1L, "x")).toDF("id", "s").schema.json.replace("\"", "\\\"")
    def add(i: Int) =
      s"""{"add":{"path":"part-$i.parquet","partitionValues":{},"size":1,"modificationTime":1,"dataChange":true}}"""
    def remove(i: Int) = s"""{"remove":{"path":"part-$i.parquet","dataChange":true}}"""
    val v0 = Seq(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
      s"""{"metaData":{"id":"t","format":{"provider":"parquet","options":{}},"schemaString":"$schemaJson","partitionColumns":[],"configuration":{}}}""") ++
      (0 until 50000).map(add)
    val v1 = (50000 until 100000).map(add) ++ (0 until 10000).map(remove)
    Files.write(logDir.resolve("0" * 20 + ".json"), v0.asJava)
    Files.write(logDir.resolve("0" * 19 + "1.json"), v1.asJava)

    val t0 = System.nanoTime()
    DeltaInterop.writeDeltaCheckpoint(spark, root.toString, 1L, tsMillis = 5000L)
    val secs = (System.nanoTime() - t0) / 1e9
    assert(secs < 60.0, f"100k-action checkpoint took $secs%.1f s — not metadata-scale")

    val ckpt = spark.read.parquet(
      logDir.resolve("0" * 19 + "1.checkpoint.parquet").toString)
    assert(ckpt.where(col("add").isNotNull).count() == 90000L,
      "checkpoint must hold exactly the live set (100k adds - 10k removes)")
    assert(ckpt.where(col("protocol").isNotNull).count() == 1L)
    val ptr = Files.readAllLines(logDir.resolve("_last_checkpoint")).asScala.mkString
    assert(ptr.contains("\"version\":1"))
  }

  test("export hard-links data files when source and target share a filesystem") {
    val t = sampleTable()
    val out = tmp("delta_link")
    DeltaInterop.exportDelta(t, out, tsMillis = 5000L)
    val exported = Files.list(Paths.get(out)).iterator().asScala
      .filter(_.toString.endsWith(".parquet")).toSeq
    assert(exported.nonEmpty)
    // hard link: link count of the exported file is >= 2 (same inode as source)
    val linkCount = Files.getAttribute(exported.head, "unix:nlink").asInstanceOf[Int]
    assert(linkCount >= 2, s"expected a hard link, got nlink=$linkCount (copy fallback?)")
  }

  private def dataFiles(out: String): Set[String] = {
    val s = Files.list(Paths.get(out))
    try s.iterator().asScala.map(_.getFileName.toString)
      .filter(_.endsWith(".parquet")).toSet
    finally s.close()
  }

  test("renameDeltaColumn: metadata-only rename (upgrade to name mode, then mapped-mode rename)") {
    val t = sampleTable()
    val out = tmp("delta_rename")
    DeltaInterop.exportDelta(t, out, tsMillis = 5000L)
    val before = DeltaInterop.readDelta(spark, out).orderBy("id").collect().toSeq
    val filesBefore = dataFiles(out)

    DeltaInterop.renameDeltaColumn(spark, out, "v", "score", tsMillis = 6000L)
    // metadata-only: the data file set is bit-identical
    assert(dataFiles(out) == filesBefore, "a rename must move zero data bytes")
    val after = DeltaInterop.readDelta(spark, out)
    assert(after.columns.toSeq == Seq("id", "k", "score"))
    // values untouched (Row equality is positional — names live in the schema)
    assert(after.orderBy("id").collect().toSeq == before)
    // the upgrade committed the legacy column-mapping protocol pair
    val v1 = Files.readAllLines(
      Paths.get(out, "_delta_log", "0" * 19 + "1.json")).asScala.mkString
    assert(v1.contains("\"minReaderVersion\":2") && v1.contains("\"minWriterVersion\":5"))
    assert(v1.contains("\"delta.columnMapping.mode\":\"name\""))
    assert(v1.contains("delta.columnMapping.physicalName"))
    // time travel below the rename still reads the OLD name
    val v0 = DeltaInterop.readDelta(spark, out, versionAsOf = Some(0L))
    assert(v0.columns.toSeq == Seq("id", "k", "v"))
    // a second rename rides the existing mapping (no re-upgrade)
    DeltaInterop.renameDeltaColumn(spark, out, "k", "key", tsMillis = 7000L)
    val twice = DeltaInterop.readDelta(spark, out)
    assert(twice.columns.toSeq == Seq("id", "key", "score"))
    assert(twice.orderBy("id").collect().toSeq == before)
    // refusals: missing source, case-insensitive collision, self-rename
    assert(intercept[IllegalArgumentException](
      DeltaInterop.renameDeltaColumn(spark, out, "nope", "x"))
      .getMessage.contains("no column"))
    assert(intercept[IllegalArgumentException](
      DeltaInterop.renameDeltaColumn(spark, out, "id", "SCORE"))
      .getMessage.contains("case-insensitively"))
    assert(intercept[IllegalArgumentException](
      DeltaInterop.renameDeltaColumn(spark, out, "id", "id"))
      .getMessage.contains("no-op"))
    // a CASE-ONLY rename is legal (the renamed field itself is excluded
    // from the collision check — the physical name stays put either way)
    DeltaInterop.renameDeltaColumn(spark, out, "score", "Score", tsMillis = 8000L)
    val cased = DeltaInterop.readDelta(spark, out)
    assert(cased.columns.toSeq == Seq("id", "key", "Score"))
    assert(cased.orderBy("id").collect().toSeq == before)
  }

  test("column mapping composes with deletion vectors and survives a checkpoint") {
    val t = sampleTable()
    val out = tmp("delta_ren_dv")
    DeltaInterop.exportDelta(t, out, tsMillis = 5000L)
    // DV first: the table is on (3,7) table features when the rename lands
    assert(DeltaInterop.deleteFromDelta(spark, out, col("id") === 2L, tsMillis = 6000L) == 1L)
    DeltaInterop.renameDeltaColumn(spark, out, "v", "score", tsMillis = 7000L)
    val v2 = Files.readAllLines(
      Paths.get(out, "_delta_log", "0" * 19 + "2.json")).asScala.mkString
    assert(v2.contains("\"minReaderVersion\":3"), "a table-features table must stay on (3,7)")
    assert(v2.contains("columnMapping") && v2.contains("deletionVectors"),
      "the upgrade must ADD columnMapping to the existing feature sets, not replace them")
    val live = DeltaInterop.readDelta(spark, out)
    assert(live.columns.toSeq == Seq("id", "k", "score"))
    assert(live.select("id").as[Long].collect().sorted.toSeq == Seq(1L, 3L, 4L))
    // a DELETE over the logical view of the mapped table resolves the
    // renamed predicate column to the files' physical bytes
    assert(DeltaInterop.deleteFromDelta(spark, out, col("score") > 35.0, tsMillis = 8000L) == 1L)
    assert(DeltaInterop.readDelta(spark, out)
      .select("id").as[Long].collect().sorted.toSeq == Seq(1L, 3L))
    // checkpoint restates the configuration: replay THROUGH the checkpoint
    // (log tail empty past it) must still resolve the mapping
    DeltaInterop.writeDeltaCheckpoint(spark, out, 3L, tsMillis = 9000L)
    val ckptRead = DeltaInterop.readDelta(spark, out)
    assert(ckptRead.columns.toSeq == Seq("id", "k", "score"))
    assert(ckptRead.select("id").as[Long].collect().sorted.toSeq == Seq(1L, 3L))
    // purge on the mapped table writes PHYSICAL-named survivor files
    val (nf, dead) = DeltaInterop.purgeDeltaDvs(spark, out, tsMillis = 10000L)
    assert(nf > 0 && dead == 2L)
    val purged = DeltaInterop.readDelta(spark, out)
    assert(purged.columns.toSeq == Seq("id", "k", "score"))
    assert(purged.select("id").as[Long].collect().sorted.toSeq == Seq(1L, 3L))
  }

  test("foreign name-mapped table with col-<uuid> physical names reads logically") {
    import org.apache.spark.sql.types._
    val root = Paths.get(tmp("delta_foreign_cmap"))
    val logDir = root.resolve("_delta_log"); Files.createDirectories(logDir)
    // physical layout: a parquet whose columns are opaque col-<uuid>s —
    // exactly what Databricks writes for a table CREATEd with mapping on
    val physIdCol = "col-7a3f" // id
    val physSCol = "col-9b21"  // s
    Seq((1L, "a"), (2L, "b")).toDF(physIdCol, physSCol)
      .coalesce(1).write.mode("overwrite").parquet(root.resolve("stage").toString)
    val st = Files.list(root.resolve("stage"))
    val part = try st.iterator().asScala.find(_.toString.endsWith(".parquet")).get
      finally st.close()
    Files.move(part, root.resolve("data0.parquet"))
    DeltaInterop.deleteRecursively(root.resolve("stage"))
    def fld(name: String, phys: String, id: Int, tpe: DataType) =
      StructField(name, tpe, nullable = true, new MetadataBuilder()
        .putString("delta.columnMapping.physicalName", phys)
        .putLong("delta.columnMapping.id", id).build())
    val logical = StructType(Seq(
      fld("id", physIdCol, 1, LongType), fld("s", physSCol, 2, StringType)))
    val schemaJson = logical.json.replace("\\", "\\\\").replace("\"", "\\\"")
    Files.write(logDir.resolve("0" * 20 + ".json"), Seq(
      """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
      s"""{"metaData":{"id":"t","format":{"provider":"parquet","options":{}},"schemaString":"$schemaJson","partitionColumns":[],"configuration":{"delta.columnMapping.mode":"name","delta.columnMapping.maxColumnId":"2"}}}""",
      """{"add":{"path":"data0.parquet","partitionValues":{},"size":1,"modificationTime":1,"dataChange":true}}"""
    ).asJava)
    val got = DeltaInterop.readDelta(spark, root.toString)
    assert(got.columns.toSeq == Seq("id", "s"))
    assert(got.orderBy("id").as[(Long, String)].collect().toSeq ==
      Seq((1L, "a"), (2L, "b")))
    // a mapped table refuses the file-set mirror (logical-named files
    // would silently read as all-null through the mapping)
    val t2 = sampleTable()
    val e = intercept[IllegalArgumentException](
      DeltaInterop.exportDeltaIncremental(t2, root.toString, tsMillis = 9000L))
    assert(e.getMessage.contains("column-mapped"))
  }

  test("a missing deletion-vector blob fails at read CONSTRUCTION, not mid-scan") {
    // executor-side decode (round 12) must not weaken the eager contract:
    // the driver validates every descriptor and resolves file-based blob
    // locations up front — it just never loads the bytes
    val t = sampleTable()
    val out = tmp("delta_dv_missing")
    DeltaInterop.exportDelta(t, out, tsMillis = 5000L)
    assert(DeltaInterop.deleteFromDelta(spark, out, col("id") === 1L, 6000L) == 1L)
    val walk = Files.walk(Paths.get(out))
    val bin = try walk.iterator().asScala.find(_.toString.endsWith(".bin")).get
      finally walk.close()
    Files.delete(bin)
    assert(intercept[IllegalArgumentException](
      DeltaInterop.readDelta(spark, out)).getMessage.contains("missing"))
  }

  test("foreign ID-mapped table resolves columns by parquet field id") {
    import org.apache.spark.sql.types._
    val root = Paths.get(tmp("delta_foreign_idmap"))
    val logDir = root.resolve("_delta_log"); Files.createDirectories(logDir)
    // the physical layout an id-mode writer produces: opaque col-<uuid>
    // column names AND parquet field ids stamped on every column — id
    // mode exists exactly because readers must NOT trust the names
    // (e.g. a table converted from Iceberg carries drifted names)
    def stamp(name: String, id: Long) = new MetadataBuilder()
      .putLong("parquet.field.id", id).build()
    val stamped = Seq((1L, "a"), (2L, "b")).toDF("p1", "p2")
      .select(col("p1").as("col-7a3f", stamp("col-7a3f", 1L)),
        col("p2").as("col-9b21", stamp("col-9b21", 2L)))
    val key = "spark.sql.parquet.fieldId.write.enabled"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "true")
    try stamped.coalesce(1).write.mode("overwrite")
      .parquet(root.resolve("stage").toString)
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
    val st = Files.list(root.resolve("stage"))
    val part = try st.iterator().asScala.find(_.toString.endsWith(".parquet")).get
      finally st.close()
    Files.move(part, root.resolve("data0.parquet"))
    DeltaInterop.deleteRecursively(root.resolve("stage"))
    def fld(name: String, phys: String, id: Int, tpe: DataType) =
      StructField(name, tpe, nullable = true, new MetadataBuilder()
        .putString("delta.columnMapping.physicalName", phys)
        .putLong("delta.columnMapping.id", id).build())
    // the logical schema includes a PARTITION column ("part", physical
    // col-pp) that lives only in the log's partitionValues — whose keys
    // are PHYSICAL names under column mapping, both modes
    val logical = StructType(Seq(
      fld("id", "col-7a3f", 1, LongType), fld("s", "col-9b21", 2, StringType),
      fld("part", "col-pp", 3, StringType)))
    val schemaJson = logical.json.replace("\\", "\\\\").replace("\"", "\\\"")
    Files.write(logDir.resolve("0" * 20 + ".json"), Seq(
      """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
      s"""{"metaData":{"id":"t","format":{"provider":"parquet","options":{}},"schemaString":"$schemaJson","partitionColumns":["part"],"configuration":{"delta.columnMapping.mode":"id","delta.columnMapping.maxColumnId":"3"}}}""",
      """{"add":{"path":"data0.parquet","partitionValues":{"col-pp":"x"},"size":1,"modificationTime":1,"dataChange":true}}"""
    ).asJava)
    val got = DeltaInterop.readDelta(spark, root.toString)
    assert(got.columns.toSeq == Seq("id", "s", "part"))
    assert(got.orderBy("id").as[(Long, String, String)].collect().toSeq ==
      Seq((1L, "a", "x"), (2L, "b", "x")))
    // the pruner still keys LOGICALLY (physical keys translate back)
    assert(DeltaInterop.readDeltaPruned(spark, root.toString,
        keep = pv => pv.get("part").flatten.contains("x")).count() == 2L)
    assert(DeltaInterop.readDeltaPruned(spark, root.toString,
        keep = pv => pv.get("part").flatten.contains("y")).count() == 0L)
    // write paths (round 13): the id-mapped table takes a DV delete and
    // a MERGE — the provenance scan resolves by parquet field id, new
    // files render physical names + field ids, partitionValues keys
    // stay physical
    assert(DeltaInterop.deleteFromDelta(spark, root.toString,
      col("id") === 1L, 1000L) == 1L)
    assert(DeltaInterop.readDelta(spark, root.toString).orderBy("id")
      .as[(Long, String, String)].collect().toSeq == Seq((2L, "b", "x")))
    // id 2 updates AND MOVES partitions (x → y), id 9 inserts
    val (sup, app) = DeltaInterop.mergeDelta(spark, root.toString,
      Seq((2L, "z", "y"), (9L, "n", "y")).toDF("id", "s", "part"),
      Seq("id"), 2000L)
    assert((sup, app) == ((1L, 2L)))
    assert(DeltaInterop.readDelta(spark, root.toString).orderBy("id")
      .as[(Long, String, String)].collect().toSeq ==
      Seq((2L, "z", "y"), (9L, "n", "y")))
    // foreign shape: the new files live under PHYSICAL partition dirs and
    // carry PHYSICAL column names; the pruner still keys logically
    val walk2 = Files.walk(root)
    val mergeFiles = try walk2.iterator().asScala
      .filter(p => p.getFileName.toString.startsWith("merge-")).toSeq
      finally walk2.close()
    assert(mergeFiles.nonEmpty &&
      mergeFiles.forall(_.toString.contains("col-pp=y")),
      s"merge files must stage under the physical partition dir: $mergeFiles")
    val physCols = spark.read.parquet(mergeFiles.head.toString).columns.toSet
    assert(physCols == Set("col-7a3f", "col-9b21"),
      s"merge files must carry physical column names, got $physCols")
    assert(DeltaInterop.readDeltaPruned(spark, root.toString,
        keep = pv => pv.get("part").flatten.contains("y")).count() == 2L)
    // renames stay refused in id mode (physical names are not a contract)
    assert(intercept[IllegalArgumentException](
      DeltaInterop.renameDeltaColumn(spark, root.toString, "s", "s2"))
      .getMessage.contains("ID mode"))
  }

  test("mergeDelta on a name-mapped table: physical staged bytes, logical CDF pairs") {
    val t = sampleTable()
    val out = tmp("delta_merge_mapped")
    DeltaInterop.exportDelta(t, out, tsMillis = 5000L)                     // v0
    DeltaInterop.setDeltaTableProperty(spark, out,
      "delta.enableChangeDataFeed", "true", tsMillis = 6000L)              // v1
    DeltaInterop.renameDeltaColumn(spark, out, "v", "score", 7000L)        // v2
    val (sup, app) = DeltaInterop.mergeDelta(spark, out,
      Seq((2L, "x", 200.0), (9L, "y", 900.0)).toDF("id", "k", "score"),
      Seq("id"), 8000L)                                                    // v3
    assert((sup, app) == ((1L, 2L)))
    assert(DeltaInterop.readDelta(spark, out).orderBy("id")
      .as[(Long, String, Double)].collect().toSeq ==
      Seq((1L, "a", 10.0), (2L, "x", 200.0), (3L, "a", 30.0),
        (4L, "c", 40.0), (9L, "y", 900.0)))
    // the feed serves the MERGE classification under LOGICAL names
    val (h, cdf) = DeltaInterop.readDeltaCdf(spark, out, 2L)
    assert(h == 3L)
    assert(cdf.select("id", "score", "_change_type").as[(Long, Double, String)]
      .collect().toSet == Set((2L, 20.0, "update_preimage"),
        (2L, 200.0, "update_postimage"), (9L, 900.0, "insert")))
    // every staged byte (merge data files AND cdc files) carries the
    // PHYSICAL column name — foreign readers resolve physically
    val walk = Files.walk(Paths.get(out))
    val staged = try walk.iterator().asScala.filter(p =>
        (p.getFileName.toString.startsWith("merge-") ||
          p.toString.contains("_change_data")) &&
          p.toString.endsWith(".parquet")).toSeq
      finally walk.close()
    assert(staged.nonEmpty)
    staged.foreach { p =>
      val cs = spark.read.parquet(p.toString).columns.toSet
      assert(cs.contains("v") && !cs.contains("score"), s"$p: $cs")
    }
  }

  test("vacuumDelta reclaims only unreferenced files; cleanDeltaLog retires covered commits") {
    val t = sampleTable()
    val out = tmp("delta_vac")
    DeltaInterop.exportDelta(t, out, tsMillis = 5000L)
    // a live DV table vacuums to nothing: the data files are still
    // referenced (with vectors) and so are the .bin blobs
    assert(DeltaInterop.deleteFromDelta(spark, out, col("id") % 2 === 0, 6000L) == 2L)
    assert(DeltaInterop.vacuumDelta(spark, out) == ((0, 0L)),
      "every file of a live DV table is referenced — vacuum must be a no-op")
    val (_, dead) = DeltaInterop.purgeDeltaDvs(spark, out, 7000L)
    assert(dead == 2L)
    val before = DeltaInterop.readDelta(spark, out).orderBy("id").collect().toSeq
    // underscore/dot paths are out of vacuum's jurisdiction
    Files.createDirectories(Paths.get(out, "_extra"))
    Files.write(Paths.get(out, "_extra", "keep.txt"), Seq("x").asJava)
    Files.write(Paths.get(out, ".hidden"), Seq("x").asJava)
    // now the purged originals + their .bin vectors are unreferenced
    val (vf, vb) = DeltaInterop.vacuumDelta(spark, out)
    assert(vf > 0 && vb > 0L, s"expected reclaim, got ($vf, $vb)")
    assert(Files.exists(Paths.get(out, "_extra", "keep.txt")) &&
      Files.exists(Paths.get(out, ".hidden")),
      "vacuum must never touch '_'/'.'-prefixed paths")
    assert(DeltaInterop.readDelta(spark, out).orderBy("id").collect().toSeq == before)
    assert(DeltaInterop.vacuumDelta(spark, out) == ((0, 0L)), "vacuum is idempotent")
    // no .bin vectors remain anywhere under the root
    val walk = Files.walk(Paths.get(out))
    val bins = try walk.iterator().asScala.count(_.toString.endsWith(".bin"))
      finally walk.close()
    assert(bins == 0, "the purged deletion vectors' bytes must be gone")

    // log cleanup: refuses without a checkpoint, then retires commits 0..2
    assert(intercept[IllegalArgumentException](DeltaInterop.cleanDeltaLog(out))
      .getMessage.contains("no checkpoint"))
    DeltaInterop.writeDeltaCheckpoint(spark, out, 2L, tsMillis = 8000L)
    assert(DeltaInterop.cleanDeltaLog(out) == 3)
    assert(DeltaInterop.cleanDeltaLog(out) == 0, "cleanup is idempotent")
    assert(DeltaInterop.readDelta(spark, out).orderBy("id").collect().toSeq == before)
    // time travel below the horizon is a LOUD missing version
    assert(intercept[IllegalArgumentException](
      DeltaInterop.readDelta(spark, out, versionAsOf = Some(0L)))
      .getMessage.contains("does not exist"))
  }

  test("dropDeltaColumn: metadata-only drop — bytes invisible now, time travel keeps them") {
    val t = sampleTable()
    val out = tmp("delta_drop")
    DeltaInterop.exportDelta(t, out, tsMillis = 5000L)
    val filesBefore = dataFiles(out)
    DeltaInterop.dropDeltaColumn(spark, out, "k", tsMillis = 6000L)
    assert(dataFiles(out) == filesBefore, "a drop must move zero data bytes")
    val live = DeltaInterop.readDelta(spark, out)
    assert(live.columns.toSeq == Seq("id", "v") && live.count() == 4L)
    assert(DeltaInterop.readDelta(spark, out, versionAsOf = Some(0L))
      .columns.contains("k"), "time travel below the drop must still read it")
    // composes with rename on the now-mapped table
    DeltaInterop.renameDeltaColumn(spark, out, "v", "score", 7000L)
    assert(DeltaInterop.readDelta(spark, out).columns.toSeq == Seq("id", "score"))
    // refusals: missing column, last column
    assert(intercept[IllegalArgumentException](
      DeltaInterop.dropDeltaColumn(spark, out, "nope"))
      .getMessage.contains("no column"))
    DeltaInterop.dropDeltaColumn(spark, out, "id", tsMillis = 8000L)
    assert(intercept[IllegalArgumentException](
      DeltaInterop.dropDeltaColumn(spark, out, "score"))
      .getMessage.contains("last column"))
    // partition columns are a repartition, not a metadata edit
    val tp = TxTable(spark, tmp("delta_drop_p"))
    tp.append(Seq((1L, "a", 1.0)).toDF("id", "day", "v"),
      tsMillis = 1000L, partitionBy = Seq("day"))
    val outp = tmp("delta_drop_pe")
    DeltaInterop.exportDelta(tp, outp, tsMillis = 5000L)
    assert(intercept[IllegalArgumentException](
      DeltaInterop.dropDeltaColumn(spark, outp, "day"))
      .getMessage.contains("partition column"))
  }

  test("a DV delete preserves pre-existing protocol features (no silent downgrade)") {
    val t = sampleTable()
    val out = tmp("delta_proto")
    DeltaInterop.exportDelta(t, out, tsMillis = 5000L)
    // a foreign commit raises the table to (3,7) with timestampNtz: the
    // delete's protocol action REPLACES the table protocol, so it must
    // carry the accumulated features forward, not a fixed singleton
    val logDir = Paths.get(out, "_delta_log")
    Files.write(logDir.resolve("0" * 19 + "1.json"), Seq(
      """{"commitInfo":{"timestamp":6000}}""",
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["timestampNtz"],"writerFeatures":["timestampNtz"]}}"""
    ).asJava)
    assert(DeltaInterop.deleteFromDelta(spark, out, col("id") === 1L, 7000L) == 1L)
    val v2 = Files.readAllLines(logDir.resolve("0" * 19 + "2.json")).asScala.mkString
    assert(v2.contains("timestampNtz") && v2.contains("deletionVectors"),
      s"the replacing protocol action must union the features: $v2")
    assert(DeltaInterop.readDelta(spark, out).count() == 3L)
    // crossing a LEGACY (1,2) protocol to (3,7) lists what the old
    // versions implied (PROTOCOL.md's upgrade rule)
    val out2 = tmp("delta_proto2")
    DeltaInterop.exportDelta(t, out2, tsMillis = 5000L)
    assert(DeltaInterop.deleteFromDelta(spark, out2, col("id") === 1L, 6000L) == 1L)
    val v1b = Files.readAllLines(
      Paths.get(out2, "_delta_log", "0" * 19 + "1.json")).asScala.mkString
    assert(v1b.contains("appendOnly") && v1b.contains("invariants"),
      s"legacy-implied writer features must ride the upgrade: $v1b")
  }

  test("deltaVersionAt: timestamp time travel from commitInfo timestamps") {
    val t = sampleTable()
    val out = tmp("delta_ts")
    DeltaInterop.exportDelta(t, out, tsMillis = 5000L)                              // v0
    assert(DeltaInterop.deleteFromDelta(spark, out, col("id") === 1L, 6000L) == 1L) // v1
    assert(DeltaInterop.deltaVersionAt(out, 5000L) == 0L)
    assert(DeltaInterop.deltaVersionAt(out, 5999L) == 0L)
    assert(DeltaInterop.deltaVersionAt(out, 6000L) == 1L)
    assert(DeltaInterop.deltaVersionAt(out, Long.MaxValue) == 1L)
    assert(intercept[IllegalArgumentException](
      DeltaInterop.deltaVersionAt(out, 4999L)).getMessage.contains("predates"))
    // composes with readDelta: the instant between the commits reads v0
    assert(DeltaInterop.readDelta(spark, out,
      versionAsOf = Some(DeltaInterop.deltaVersionAt(out, 5500L))).count() == 4L)
    // log cleanup retires the early instants LOUDLY; the checkpoint-only
    // version still resolves (by the parquet's mtime)
    DeltaInterop.writeDeltaCheckpoint(spark, out, 1L, tsMillis = 7000L)
    assert(DeltaInterop.cleanDeltaLog(out) == 2)
    assert(intercept[IllegalArgumentException](
      DeltaInterop.deltaVersionAt(out, 5000L)).getMessage.contains("cleaned"))
    assert(DeltaInterop.deltaVersionAt(out, Long.MaxValue) == 1L)
  }

  test("change data feed: cdc emission on delete, readDeltaCdf serves inserts AND deletes") {
    val t = sampleTable()
    val out = tmp("delta_cdf")
    DeltaInterop.exportDelta(t, out, tsMillis = 5000L)                           // v0
    DeltaInterop.setDeltaTableProperty(spark, out,
      "delta.enableChangeDataFeed", "true", tsMillis = 6000L)                    // v1
    t.append(Seq((9L, "z", 90.0)).toDF("id", "k", "v"), tsMillis = 3000L)
    assert(DeltaInterop.exportDeltaIncremental(t, out, tsMillis = 7000L) == 2L)  // v2: insert
    assert(DeltaInterop.deleteFromDelta(spark, out, col("id") % 2 === 0, 8000L) == 2L) // v3: cdc
    val (head, cdf) = DeltaInterop.readDeltaCdf(spark, out, sinceVersion = 1L)
    assert(head == 3L)
    val rows = cdf.select("id", "_change_type", "_commit_version")
      .as[(Long, String, Long)].collect().toSet
    assert(rows == Set((9L, "insert", 2L), (2L, "delete", 3L), (4L, "delete", 3L)))
    // the change parquet physically exists; the live view is DV-masked
    val cdcFiles = Files.list(Paths.get(out, "_change_data")).iterator().asScala
      .filter(_.toString.endsWith(".parquet")).toSeq
    assert(cdcFiles.nonEmpty)
    assert(DeltaInterop.readDelta(spark, out).select("id").as[Long]
      .collect().sorted.toSeq == Seq(1L, 3L, 9L))
    // consumer at the head reads empty; property commits contribute nothing
    assert(DeltaInterop.readDeltaCdf(spark, out, 3L)._2.isEmpty)
    assert(DeltaInterop.readDeltaCdf(spark, out, 0L)._2.count() == 3L)
    // the commit declares the writer-only feature
    val v3Txt = Files.readAllLines(
      Paths.get(out, "_delta_log", "0" * 19 + "3.json")).asScala.mkString
    assert(v3Txt.contains("changeDataFeed") && v3Txt.contains("\"cdc\""))
    // purge + vacuum retire the DV'd originals — the feed STILL serves,
    // because cdc files are authoritative and '_change_data' is outside
    // vacuum's jurisdiction (purge itself is dataChange=false: skipped)
    assert(DeltaInterop.purgeDeltaDvs(spark, out, 9000L)._2 == 2L)              // v4
    assert(DeltaInterop.vacuumDelta(spark, out)._1 > 0)
    val (head2, cdf2) = DeltaInterop.readDeltaCdf(spark, out, 1L)
    assert(head2 == 4L && cdf2.select("id", "_change_type", "_commit_version")
      .as[(Long, String, Long)].collect().toSet == rows)
    // a DV delete WITHOUT the property has no cdc actions — synthesis
    // refuses rather than resurrecting a wrong feed
    val t2 = sampleTable()
    val out2 = tmp("delta_cdf2")
    DeltaInterop.exportDelta(t2, out2, tsMillis = 5000L)
    assert(DeltaInterop.deleteFromDelta(spark, out2, col("id") === 1L, 6000L) == 1L)
    assert(intercept[IllegalArgumentException](
      DeltaInterop.readDeltaCdf(spark, out2, 0L))
      .getMessage.contains("no cdc actions"))
    // rename + CDC composes (round 13): the rename upgrades to name
    // mode, the delete's change files carry PHYSICAL column names
    // (foreign readers resolve physically), and the feed restores the
    // LOGICAL (renamed) ones
    DeltaInterop.renameDeltaColumn(spark, out2, "v", "score", 7000L)       // v2
    DeltaInterop.setDeltaTableProperty(spark, out2,
      "delta.enableChangeDataFeed", "true", tsMillis = 8000L)              // v3
    assert(DeltaInterop.deleteFromDelta(spark, out2,
      col("id") === 3L, 9000L) == 1L)                                      // v4: cdc
    // the DV delete at v1 (pre-property, no cdc) still refuses; the
    // post-rename range serves — rename and property commits are silent
    assert(intercept[IllegalArgumentException](
      DeltaInterop.readDeltaCdf(spark, out2, 0L))
      .getMessage.contains("no cdc actions"))
    val (h4, mappedFeed) = DeltaInterop.readDeltaCdf(spark, out2, 1L)
    assert(h4 == 4L)
    assert(mappedFeed.select("id", "score", "_change_type", "_commit_version")
      .as[(Long, Double, String, Long)].collect().toSeq ==
      Seq((3L, 30.0, "delete", 4L)))
    // foreign shape: the cdc parquet's own columns are PHYSICAL names
    val cdcFile2 = Files.list(Paths.get(out2, "_change_data")).iterator().asScala
      .filter(_.toString.endsWith(".parquet")).toSeq
    assert(cdcFile2.nonEmpty)
    val physCols = spark.read.parquet(cdcFile2.head.toString).columns.toSet
    assert(physCols.contains("v") && !physCols.contains("score"),
      s"cdc file must carry physical names, got $physCols")
    // the property setter refuses the managed column-mapping keys
    assert(intercept[IllegalArgumentException](
      DeltaInterop.setDeltaTableProperty(spark, out2,
        "delta.columnMapping.mode", "id"))
      .getMessage.contains("managed by"))
  }

  test("renamed partition column: physical partitionValues keys, logical pruner keys") {
    val t = TxTable(spark, tmp("delta_ren_part"))
    val df = Seq((1L, "2024-01-01", 1.0), (2L, "2024-01-02", 2.0), (3L, null, 3.0))
      .toDF("id", "day", "v")
    t.append(df, tsMillis = 1000L, partitionBy = Seq("day"))
    val out = tmp("delta_ren_part_exp")
    DeltaInterop.exportDelta(t, out, tsMillis = 5000L)
    DeltaInterop.renameDeltaColumn(spark, out, "day", "dt", tsMillis = 6000L)
    val live = DeltaInterop.readDelta(spark, out)
    assert(live.columns.toSeq == Seq("id", "dt", "v"))
    assert(live.where(col("dt") === "2024-01-02").select("id").as[Long].collect()
      .toSeq == Seq(2L))
    assert(live.where(col("dt").isNull).count() == 1L)
    // the pruner addresses the renamed column by its LOGICAL name
    val pruned = DeltaInterop.readDeltaPruned(spark, out,
      keep = pv => pv.get("dt").flatten.contains("2024-01-01"))
    assert(pruned.select("id").as[Long].collect().toSeq == Seq(1L))
    // rename + CDC on a PARTITIONED table: the cdc actions carry
    // PHYSICAL partitionValues keys ('day'), the feed fills the logical
    // 'dt' column back and restores logical data names
    DeltaInterop.setDeltaTableProperty(spark, out,
      "delta.enableChangeDataFeed", "true", tsMillis = 7000L)              // v2
    assert(DeltaInterop.deleteFromDelta(spark, out,
      col("dt") === "2024-01-02", 8000L) == 1L)                            // v3: cdc
    val (h, feed) = DeltaInterop.readDeltaCdf(spark, out, 2L)
    assert(h == 3L)
    assert(feed.columns.toSeq == Seq("id", "dt", "v", "_change_type", "_commit_version"))
    assert(feed.select("id", "dt", "_change_type")
      .as[(Long, String, String)].collect().toSeq ==
      Seq((2L, "2024-01-02", "delete")))
  }

  test("add.stats carries per-file bounds; readDeltaRange skips files; checkpoint keeps stats") {
    val t = TxTable(spark, tmp("delta_bounds"))
    (0 until 3).foreach { b =>
      t.append((b * 10L until (b + 1) * 10L).map(i => (i, i * 2.0))
        .toDF("id", "v").coalesce(1),
        tsMillis = 1000L + b, statsCols = Seq("id", "v"))
    }
    val out = tmp("delta_bounds_exp")
    DeltaInterop.exportDelta(t, out, tsMillis = 5000L)
    // the adds physically carry protocol-shaped stats JSON
    val v0 = Files.readAllLines(
      Paths.get(out, "_delta_log", "0" * 20 + ".json")).asScala.mkString
    assert(v0.contains("numRecords") && v0.contains("minValues") &&
      v0.contains("maxValues"), v0)
    assert(v0.contains("\\\"id\\\":10") || v0.contains("\"id\":10"), v0)
    // range read scans ONE file; the exact filter on top is precise
    val pruned = DeltaInterop.readDeltaRange(spark, out, Seq(("id", 12.0, 17.0)))
    assert(pruned.inputFiles.length == 1, s"got ${pruned.inputFiles.length}")
    assert(pruned.where(col("id").between(12, 17)).count() == 6L)
    // column without stats → conservative full scan; empty intersection → 0
    assert(DeltaInterop.readDeltaRange(spark, out,
      Seq(("nope", 0.0, 1.0))).inputFiles.length == 3)
    assert(DeltaInterop.readDeltaRange(spark, out,
      Seq(("id", 100.0, 200.0))).count() == 0L)
    // stats survive the checkpoint restatement: prune still works when
    // the adds replay from the checkpoint alone
    DeltaInterop.writeDeltaCheckpoint(spark, out, 0L, tsMillis = 6000L)
    assert(DeltaInterop.readDeltaRange(spark, out,
      Seq(("id", 12.0, 17.0))).inputFiles.length == 1)
  }

  test("tailDeltaInto: a stale or lost watermark never duplicates sink rows") {
    val t = sampleTable()
    val out = tmp("delta_tail_src")
    DeltaInterop.exportDelta(t, out, tsMillis = 5000L)                    // v0
    val sink = TxTable(spark, tmp("delta_tail_sink"))
    assert(DeltaInterop.tailDeltaInto(spark, out, sink, -1L, 1000L) == 0L)
    assert(sink.read().count() == 4L)
    t.append(Seq((9L, "z", 90.0)).toDF("id", "k", "v"), tsMillis = 2000L)
    assert(DeltaInterop.exportDeltaIncremental(t, out, tsMillis = 6000L) == 1L) // v1
    // a RESTARTED consumer that lost its watermark re-polls from -1: the
    // sink's recorded txn version clamps the range, so v0 is not re-read
    assert(DeltaInterop.tailDeltaInto(spark, out, sink, -1L, 3000L) == 1L)
    assert(sink.read().count() == 5L,
      "a lost watermark must not duplicate already-landed versions")
    // a replayed trigger at the head is a no-op
    assert(DeltaInterop.tailDeltaInto(spark, out, sink, 1L, 4000L) == 1L)
    assert(sink.read().count() == 5L)
  }

  test("tailDeltaInto: a caller watermark AHEAD of the sink cannot skip gap versions") {
    val t = sampleTable()
    val out = tmp("delta_tail_ahead")
    DeltaInterop.exportDelta(t, out, tsMillis = 5000L)                    // v0
    val sink = TxTable(spark, tmp("delta_tail_ahead_sink"))
    assert(DeltaInterop.tailDeltaInto(spark, out, sink, -1L, 1000L) == 0L)
    t.append(Seq((9L, "z", 90.0)).toDF("id", "k", "v"), tsMillis = 2000L)
    assert(DeltaInterop.exportDeltaIncremental(t, out, tsMillis = 6000L) == 1L) // v1
    // the sink recorded v0; a buggy caller claiming v1 must NOT make the
    // poll skip v1's rows — the sink's state is authoritative in BOTH
    // directions (the tailIcebergInto stance)
    assert(DeltaInterop.tailDeltaInto(spark, out, sink, 1L, 3000L) == 1L)
    assert(sink.read().count() == 5L,
      "the sink's recorded version is authoritative — gap versions must land")
  }

  test("mergeDelta: DV'd pre-images + fresh adds in one commit; CDF update pairs") {
    val t = sampleTable()
    val out = tmp("delta_merge")
    DeltaInterop.exportDelta(t, out, tsMillis = 5000L)                      // v0
    DeltaInterop.setDeltaTableProperty(spark, out,
      "delta.enableChangeDataFeed", "true", tsMillis = 6000L)               // v1
    // id 2 updates, id 9 inserts — ONE commit
    val up = Seq((2L, "x", 200.0), (9L, "y", 900.0)).toDF("id", "k", "v")
    val (sup, app) = DeltaInterop.mergeDelta(spark, out, up, Seq("id"), 7000L) // v2
    assert((sup, app) == ((1L, 2L)))
    val live = DeltaInterop.readDelta(spark, out)
    assert(live.orderBy("id").as[(Long, String, Double)].collect().toSeq ==
      Seq((1L, "a", 10.0), (2L, "x", 200.0), (3L, "a", 30.0),
        (4L, "c", 40.0), (9L, "y", 900.0)))
    // the feed serves the protocol's FULL merge classification
    val (_, cdf) = DeltaInterop.readDeltaCdf(spark, out, sinceVersion = 1L)
    val rows = cdf.select("id", "v", "_change_type")
      .as[(Long, Double, String)].collect().toSet
    assert(rows == Set((2L, 20.0, "update_preimage"),
      (2L, 200.0, "update_postimage"), (9L, 900.0, "insert")), s"got $rows")
    // time travel below the merge; re-merging the same keys works (the
    // fresh adds take the DVs this time)
    assert(DeltaInterop.readDelta(spark, out, versionAsOf = Some(0L))
      .orderBy("id").as[(Long, String, Double)].collect().toSeq ==
      t.read().orderBy("id").as[(Long, String, Double)].collect().toSeq)
    val (sup2, app2) = DeltaInterop.mergeDelta(spark, out,
      Seq((9L, "z", 901.0)).toDF("id", "k", "v"), Seq("id"), 8000L)         // v3
    assert((sup2, app2) == ((1L, 1L)))
    assert(DeltaInterop.readDelta(spark, out)
      .where(col("id") === 9L).as[(Long, String, Double)].head() == ((9L, "z", 901.0)))
    // duplicate incoming keys are ambiguous: loud refusal
    assert(intercept[IllegalArgumentException](
      DeltaInterop.mergeDelta(spark, out,
        Seq((1L, "p", 1.0), (1L, "q", 2.0)).toDF("id", "k", "v"), Seq("id")))
      .getMessage.contains("duplicate"))
    // purge reclaims the merge's DVs without perturbing the live view
    val pre = DeltaInterop.readDelta(spark, out).orderBy("id").collect().toSeq
    assert(DeltaInterop.purgeDeltaDvs(spark, out, 9000L)._1 > 0)
    assert(DeltaInterop.readDelta(spark, out).orderBy("id").collect().toSeq == pre)
  }

  test("mergeDelta on a partitioned table: new files carry honest partitionValues") {
    val t = TxTable(spark, tmp("delta_merge_part"))
    t.append(Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "a", 3.0))
      .toDF("id", "day", "v"), tsMillis = 1000L, partitionBy = Seq("day"))
    val out = tmp("delta_merge_part_exp")
    DeltaInterop.exportDelta(t, out, tsMillis = 5000L)
    // id2 MOVES partitions (b → c), id7 inserts into a
    val (sup, app) = DeltaInterop.mergeDelta(spark, out,
      Seq((2L, "c", 20.0), (7L, "a", 7.0)).toDF("id", "day", "v"),
      Seq("id"), 6000L)
    assert((sup, app) == ((1L, 2L)))
    assert(DeltaInterop.readDelta(spark, out)
      .orderBy("id").as[(Long, String, Double)].collect().toSeq ==
      Seq((1L, "a", 1.0), (2L, "c", 20.0), (3L, "a", 3.0), (7L, "a", 7.0)))
    // the pruner finds the moved and inserted rows in their partitions
    assert(DeltaInterop.readDeltaPruned(spark, out,
        keep = pv => pv.get("day").flatten.contains("c"))
      .select("id").as[Long].collect().toSeq == Seq(2L))
    assert(DeltaInterop.readDeltaPruned(spark, out,
        keep = pv => pv.get("day").flatten.contains("b"))
      .count() == 0L)
    assert(DeltaInterop.readDeltaPruned(spark, out,
        keep = pv => pv.get("day").flatten.contains("a"))
      .select("id").as[Long].collect().sorted.toSeq == Seq(1L, 3L, 7L))
  }

  test("legacy schema-change commits preserve a HIGHER legacy writer version") {
    val t = sampleTable()
    val out = tmp("delta_legacy6")
    DeltaInterop.exportDelta(t, out, tsMillis = 5000L)
    // a foreign writer raised the table to legacy (1, 6) — identityColumns
    // territory; legacy versions are cumulative, so any later protocol
    // action must not fall below it
    Files.write(Paths.get(out, "_delta_log", "0" * 19 + "1.json"), Seq(
      """{"commitInfo":{"timestamp":5500,"operation":"UPGRADE PROTOCOL"}}""",
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":6}}""").asJava)
    DeltaInterop.renameDeltaColumn(spark, out, "v", "score", tsMillis = 6000L)
    val v2 = Files.readAllLines(
      Paths.get(out, "_delta_log", "0" * 19 + "2.json")).asScala.mkString
    // writer 6 preserved (a fixed (2,5) pair would DOWNGRADE the table,
    // un-gating foreign writers that don't enforce identity columns);
    // reader raised to columnMapping's floor of 2
    assert(v2.contains("\"minWriterVersion\":6"), v2)
    assert(v2.contains("\"minReaderVersion\":2"), v2)
    val live = DeltaInterop.readDelta(spark, out)
    assert(live.columns.toSeq == Seq("id", "k", "score"))
    assert(live.count() == 4L)
  }

  test("enabling change data feed gates writers via the protocol") {
    // plain legacy table: the property commit must raise the writer
    // version to CDF's legacy floor of 4 — otherwise a legacy foreign
    // writer could commit row changes with NO cdc actions and the feed's
    // whole-file synthesis would over-report rewrites as change pairs
    val t = sampleTable()
    val out = tmp("delta_cdf_gate")
    DeltaInterop.exportDelta(t, out, tsMillis = 5000L)
    DeltaInterop.setDeltaTableProperty(spark, out,
      "delta.enableChangeDataFeed", "true", tsMillis = 6000L)
    val v1 = Files.readAllLines(
      Paths.get(out, "_delta_log", "0" * 19 + "1.json")).asScala.mkString
    assert(v1.contains("\"minWriterVersion\":4"), v1)
    assert(v1.contains("\"minReaderVersion\":1"), v1)
    // already gated: a second property commit emits NO protocol action
    DeltaInterop.setDeltaTableProperty(spark, out,
      "delta.retentionDurationMillis", "1000", tsMillis = 7000L)
    val v2 = Files.readAllLines(
      Paths.get(out, "_delta_log", "0" * 19 + "2.json")).asScala.mkString
    assert(!v2.contains("\"protocol\""), v2)
    // table-features table: the feature lands in writerFeatures while the
    // existing features are preserved
    val t2 = sampleTable()
    val out2 = tmp("delta_cdf_gate2")
    DeltaInterop.exportDelta(t2, out2, tsMillis = 5000L)
    assert(DeltaInterop.deleteFromDelta(spark, out2, col("id") === 2L,
      tsMillis = 6000L) == 1L)                                         // (3,7) DV
    DeltaInterop.setDeltaTableProperty(spark, out2,
      "delta.enableChangeDataFeed", "true", tsMillis = 7000L)
    val w2 = Files.readAllLines(
      Paths.get(out2, "_delta_log", "0" * 19 + "2.json")).asScala.mkString
    assert(w2.contains("changeDataFeed") && w2.contains("deletionVectors"), w2)
    assert(w2.contains("\"minWriterVersion\":7"), w2)
    // the gated table still reads and feeds normally
    assert(DeltaInterop.deleteFromDelta(spark, out2, col("id") === 4L,
      tsMillis = 8000L) == 1L)
    val (_, cdf) = DeltaInterop.readDeltaCdf(spark, out2, sinceVersion = 2L)
    assert(cdf.select("id").as[Long].collect().toSeq == Seq(4L))
  }

  test("tailDeltaCdcInto: MERGE + delete edges land in a keyed sink exactly-once") {
    val t = sampleTable()                                                   // ids 1..4
    val out = tmp("delta_cdc_tail")
    DeltaInterop.exportDelta(t, out, tsMillis = 5000L)                      // v0
    DeltaInterop.setDeltaTableProperty(spark, out,
      "delta.enableChangeDataFeed", "true", tsMillis = 6000L)               // v1
    val sink = TxTable(spark, tmp("delta_cdc_sink"))
    // bootstrap from table birth: empty sink + since = -1 replays v0's
    // whole-file inserts through the same netting path
    assert(DeltaInterop.tailDeltaCdcInto(spark, out, sink, Seq("id"), -1L,
      tsMillis = 1000L) == 1L)
    assert(sink.read().orderBy("id").as[(Long, String, Double)].collect().toSeq ==
      t.read().orderBy("id").as[(Long, String, Double)].collect().toSeq)
    // upstream: one MERGE (update id 2, insert id 9) and one DV delete
    // (id 1) — exactly the commits the append-only tail refuses
    DeltaInterop.mergeDelta(spark, out,
      Seq((2L, "x", 200.0), (9L, "y", 900.0)).toDF("id", "k", "v"),
      Seq("id"), 7000L)                                                     // v2
    assert(DeltaInterop.deleteFromDelta(spark, out, col("id") === 1L,
      tsMillis = 8000L) == 1L)                                              // v3
    // ONE poll drains both commits: the preimage/postimage pair nets to
    // the replacement, the delete edge to a key removal
    assert(DeltaInterop.tailDeltaCdcInto(spark, out, sink, Seq("id"), -1L,
      tsMillis = 2000L) == 3L)
    val want = Seq((2L, "x", 200.0), (3L, "a", 30.0), (4L, "c", 40.0),
      (9L, "y", 900.0))
    assert(sink.read().orderBy("id").as[(Long, String, Double)].collect().toSeq
      == want, "the materialized sink must equal the upstream live view")
    assert(DeltaInterop.readDelta(spark, out).orderBy("id")
      .as[(Long, String, Double)].collect().toSeq == want)
    // a replayed poll at the head no-ops; a LOST watermark (-1) cannot
    // duplicate — the sink's recorded version is authoritative
    assert(DeltaInterop.tailDeltaCdcInto(spark, out, sink, Seq("id"), -1L,
      tsMillis = 3000L) == 3L)
    assert(sink.read().count() == 4L)
    // the tail resumes across the no-op: a later upstream delete lands
    assert(DeltaInterop.deleteFromDelta(spark, out, col("id") === 9L,
      tsMillis = 9000L) == 1L)                                              // v4
    assert(DeltaInterop.tailDeltaCdcInto(spark, out, sink, Seq("id"), -1L,
      tsMillis = 4000L) == 4L)
    assert(sink.read().select("id").as[Long].collect().sorted.toSeq ==
      Seq(2L, 3L, 4L))
    // continuous ≡ batch: ONE from-birth replay into a fresh sink lands
    // the identical materialization the four incremental polls built
    val oneShot = TxTable(spark, tmp("delta_cdc_oneshot"))
    assert(DeltaInterop.tailDeltaCdcInto(spark, out, oneShot, Seq("id"), -1L,
      tsMillis = 5000L) == 4L)
    assert(oneShot.read().orderBy("id").as[(Long, String, Double)].collect().toSeq
      == sink.read().orderBy("id").as[(Long, String, Double)].collect().toSeq,
      "the incremental tail must equal the one-shot batch replay")
  }
}
