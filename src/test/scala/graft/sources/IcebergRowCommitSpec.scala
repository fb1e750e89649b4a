package graft.sources

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.avro.file.DataFileReader
import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.SparkSpec

/** What each Iceberg row-level writer commits, as a foreign reader sees
  * it: the new snapshot's operation, its one summary key and value, the
  * table's `last-sequence-number`, and the manifest-list entries the
  * snapshot adds — content, spec id, sequence and min-sequence, added
  * snapshot id, added file and row counts, manifest name — with every
  * earlier entry carried forward unchanged. A partitioned table's global
  * key delete rides an empty spec minted in the same commit. */
class IcebergRowCommitSpec extends SparkSpec {
  import spark.implicits._

  private val mapper = new ObjectMapper()

  /** (id, day, v) rows 0 until 40 over three `day` values, exported as
    * an Iceberg v1 table (identity-partitioned by `day` when asked). */
  private def table(partitioned: Boolean): String = {
    val t = TxTable(spark, Files.createTempDirectory("graft_rc_src").toString)
    t.append((0L until 40L).map(i => (i, i % 3, i * 1.5)).toDF("id", "day", "v"),
      tsMillis = 1000L, partitionBy = if (partitioned) Seq("day") else Seq.empty)
    val out = Files.createTempDirectory("graft_rc_ice").toString
    IcebergInterop.exportIceberg(t, out, tsMillis = 5000L)
    out
  }

  private def metadata(path: String): JsonNode = {
    val metaDir = Paths.get(path, "metadata")
    val v = Files.readAllLines(metaDir.resolve("version-hint.text")).get(0).trim
    mapper.readTree(metaDir.resolve(s"v$v.metadata.json").toFile)
  }

  private def avro(p: Path): Seq[GenericRecord] = {
    val r = new DataFileReader[GenericRecord](p.toFile, new GenericDatumReader[GenericRecord]())
    try r.iterator().asScala.toSeq finally r.close()
  }

  private def local(uri: String): Path = Paths.get(java.net.URI.create(uri))

  private def currentSnapshot(meta: JsonNode): JsonNode = {
    val id = meta.get("current-snapshot-id").asLong
    meta.get("snapshots").elements().asScala.find(_.get("snapshot-id").asLong == id).get
  }

  /** One manifest-list entry as (manifest name, content, spec id, seq,
    * min seq, added snapshot id, added files, added rows); the name drops
    * the snapshot-id suffix. */
  private type Entry = (String, Int, Int, Long, Long, Long, Int, Long)

  private def entries(snap: JsonNode): Seq[Entry] =
    avro(local(snap.get("manifest-list").asText)).map { r =>
      def opt[A](f: String, default: A): A =
        if (r.getSchema.getField(f) == null) default else r.get(f).asInstanceOf[A]
      val name = local(r.get("manifest_path").toString).getFileName.toString
      (name, opt("content", 0), r.get("partition_spec_id").asInstanceOf[Int],
        opt("sequence_number", 0L), opt("min_sequence_number", 0L),
        r.get("added_snapshot_id").asInstanceOf[Long], opt("added_files_count", -1),
        opt("added_rows_count", -1L))
    }

  /** Entries in a manifest, the sum of their record counts, and their
    * file contents (0 data, 1 position deletes, 2 equality deletes). */
  private def manifestCounts(snap: JsonNode, name: String): (Int, Long, Set[Int]) = {
    val list = local(snap.get("manifest-list").asText)
    val files = avro(list.resolveSibling(name)).map(_.get("data_file").asInstanceOf[GenericRecord])
    (files.size, files.map(_.get("record_count").asInstanceOf[Long]).sum,
      files.map(f => if (f.getSchema.getField("content") == null) 0
        else f.get("content").asInstanceOf[Int]).toSet)
  }

  /** Run `write` on the table at `path` and check the commit it made:
    * `op` and `summary` on the new snapshot, one more sequence number, the
    * previous snapshot's manifests carried forward first, then one new
    * entry per `(manifest prefix, file content, spec id)` in order, each at
    * the new sequence, added by the new snapshot, its counts those of its
    * manifest. The list's content is 1 for either kind of delete file, 0
    * for data. Returns the new entries' (files, rows). */
  private def commits(path: String, op: String, summary: (String, String),
      added: (String, Int, Int)*)(write: => Any): Seq[(Int, Long)] = {
    val before = metadata(path)
    val prevSeq = Option(before.get("last-sequence-number")).map(_.asLong).getOrElse(0L)
    val prevEntries = entries(currentSnapshot(before))
    write
    val after = metadata(path)
    val seq = prevSeq + 1
    assert(after.get("format-version").asInt == 2)
    assert(after.get("last-sequence-number").asLong == seq)
    val snap = currentSnapshot(after)
    val snapId = snap.get("snapshot-id").asLong
    assert(snap.get("parent-snapshot-id").asLong == before.get("current-snapshot-id").asLong)
    assert(snap.get("sequence-number").asLong == seq)
    assert(snap.get("summary").properties().asScala.map(e => e.getKey -> e.getValue.asText).toMap ==
      Map("operation" -> op, summary))
    val es = entries(snap)
    // carried: path, content, spec and sequences unchanged (a v1 list's
    // entries default to content 0 and sequence 0)
    assert(es.take(prevEntries.size).map(e => (e._1, e._2, e._3, e._4, e._5)) ==
      prevEntries.map(e => (e._1, e._2, e._3, e._4, e._5)))
    val fresh = es.drop(prevEntries.size)
    assert(fresh.size == added.size, s"new entries: $fresh")
    fresh.zip(added).map { case ((name, content, spec, s, minS, addedBy, files, rows),
        (prefix, wantContent, wantSpec)) =>
      assert(name == s"$prefix-$snapId.avro")
      assert((content, spec, s, minS, addedBy) ==
        ((math.min(wantContent, 1), wantSpec, seq, seq, snapId)), s"entry $name")
      assert((files, rows, Set(wantContent)) == manifestCounts(snap, name), s"entry $name counts")
      (files, rows)
    }
  }

  private def batch(ids: Seq[Long]): DataFrame =
    ids.map(i => (i, i % 3, i * 10.0)).toDF("id", "day", "v")

  private def specs(path: String): Map[Int, Int] =
    metadata(path).get("partition-specs").elements().asScala
      .map(s => s.get("spec-id").asInt -> s.get("fields").size).toMap

  test("a flat table: position delete, key delete, upsert and append commit what they report") {
    val out = table(partitioned = false)
    val Seq((_, posRows)) = commits(out, "delete", "deleted-position-deletes" -> "3",
      ("graft-d0", 1, 0)) {
      assert(IcebergInterop.deleteFromIceberg(spark, out, col("id").isin(1L, 2L, 3L), 6000L) == 3L)
    }
    assert(posRows == 3L)
    val Seq((_, keyRows)) = commits(out, "delete", "deleted-equality-keys" -> "2",
      ("graft-e0", 2, 0)) {
      assert(IcebergInterop.deleteFromIcebergByKey(spark, out,
        Seq(4L, 5L, 5L).toDF("id"), 7000L) == 2L)
    }
    assert(keyRows == 2L)
    val Seq((_, delRows), (_, dataRows)) = commits(out, "overwrite", "upserted-rows" -> "4",
      ("graft-e0", 2, 0), ("graft-u0", 0, 0)) {
      assert(IcebergInterop.upsertIceberg(spark, out, batch(Seq(6L, 7L, 100L, 101L)),
        Seq("id"), 8000L) == ((4L, 4L)))
    }
    assert((delRows, dataRows) == ((4L, 4L)))
    val Seq((_, appRows)) = commits(out, "append", "added-records" -> "2", ("graft-a0", 0, 0)) {
      assert(IcebergInterop.appendIceberg(spark, out, batch(Seq(200L, 201L)), 9000L) == 2L)
    }
    assert(appRows == 2L)
    assert(specs(out) == Map(0 -> 0))
    assert(IcebergInterop.readIceberg(spark, out).count() == 40L - 3L - 2L + 2L + 2L)
  }

  test("an identity-partitioned table: the global key delete mints an empty spec, the scoped one rides the table's") {
    val out = table(partitioned = true)
    commits(out, "delete", "deleted-position-deletes" -> "3", ("graft-d0", 1, 0)) {
      assert(IcebergInterop.deleteFromIceberg(spark, out, col("id").isin(1L, 2L, 3L), 6000L) == 3L)
    }
    // a global delete on a partitioned table is stored under an
    // unpartitioned spec, minted by this commit; the default stays 0
    commits(out, "delete", "deleted-equality-keys" -> "2", ("graft-e0", 2, 1)) {
      assert(IcebergInterop.deleteFromIcebergByKey(spark, out, Seq(4L, 5L).toDF("id"), 7000L) == 2L)
    }
    assert(specs(out) == Map(0 -> 1, 1 -> 0))
    assert(metadata(out).get("default-spec-id").asInt == 0)
    // the scoped delete carries the partition's tuple under spec 0
    commits(out, "delete", "deleted-equality-keys" -> "2", ("graft-e0", 2, 0)) {
      assert(IcebergInterop.deleteFromIcebergByKeyScoped(spark, out, Seq(6L, 9L).toDF("id"),
        Map("day" -> 0L), 7500L) == 2L)
    }
    val scoped = {
      val snap = currentSnapshot(metadata(out))
      val last = avro(local(snap.get("manifest-list").asText)).last
      avro(local(last.get("manifest_path").toString)).map(_.get("data_file")
        .asInstanceOf[GenericRecord].get("partition").asInstanceOf[GenericRecord].get("day"))
    }
    assert(scoped.nonEmpty && scoped.forall(_ == 0L))
    // the upsert's delete half reuses the minted empty spec
    commits(out, "overwrite", "upserted-rows" -> "4", ("graft-e0", 2, 1), ("graft-u0", 0, 0)) {
      assert(IcebergInterop.upsertIceberg(spark, out, batch(Seq(7L, 8L, 100L, 101L)),
        Seq("id"), 8000L) == ((4L, 4L)))
    }
    commits(out, "append", "added-records" -> "2", ("graft-a0", 0, 0)) {
      assert(IcebergInterop.appendIceberg(spark, out, batch(Seq(200L, 201L)), 9000L) == 2L)
    }
    assert(specs(out) == Map(0 -> 1, 1 -> 0))
    assert(IcebergInterop.readIceberg(spark, out).count() == 40L - 3L - 2L - 2L + 2L + 2L)
  }
}
