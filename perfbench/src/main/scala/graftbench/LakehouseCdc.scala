package graftbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.{DeltaInterop, IcebergInterop, TxTable}

/** lakehouse_cdc: one seeded stream of small CDC batches (upserts plus
  * deletes), each applied to the same feature table in every format, with
  * a latest read and an as-of read of the previous version after every
  * batch, then a compaction. Small commits bound by metadata and driver
  * time. */
object LakehouseCdc {
  val TableRows = 10000
  val Upserts = 200
  val Deletes = 50
  val Formats = Seq("tx", "delta", "iceberg")
  /** Untimed rounds before timing: on a 4-core host the first round takes
    * two to three times as long as a warm one while the JIT compiles the
    * driver-side code of the three formats. */
  val WarmupRounds = 2
  /** Least number of timed rounds. The typical round is the sum of each
    * call's median, so with three samples a call's figure stays put while
    * one of its samples falls into a burst of host load. */
  val MinRounds = 3
  /** Set-ups per run; `setup_s` is their median. The first, cold, one takes
    * several seconds and a warm one about half a second, so five keep the
    * median among warm ones. */
  val SetupReps = 5
  val T0Ms = 1704067200000L

  val schema: StructType = StructType(Seq(StructField("id", LongType),
    StructField("ts", LongType), StructField("v", DoubleType)))

  /** The benchmark's model of the table: id -> (ts, v), and its signature. */
  final class Model {
    val rows = scala.collection.mutable.LinkedHashMap.empty[Long, (Long, Double)]
    var sig: Sig = Sig.Empty
    private def h(id: Long, r: (Long, Double)) = Sig.hashValues(id, r._1, r._2)
    def put(id: Long, r: (Long, Double)): Unit = {
      rows.get(id).foreach(old => sig = sig.remove(h(id, old)))
      rows(id) = r
      sig = sig.add(h(id, r))
    }
    def delete(id: Long): Unit = rows.remove(id).foreach(old => sig = sig.remove(h(id, old)))
  }

  final case class State(dir: Path, tx: TxTable, model: Model)

  def path(st: State, fmt: String): String = st.dir.resolve(fmt).toString

  def setup(ctx: Ctx, dir: Path): State = {
    val spark = ctx.spark
    val model = new Model
    (0 until TableRows).foreach(i => model.put(i.toLong, (0L, Gen.value(ctx.seed, i, 71))))
    val seed = ctx.seed
    val base = spark.createDataFrame(spark.sparkContext
      .range(0L, TableRows.toLong, numSlices = spark.sparkContext.defaultParallelism)
      .map(i => Row(i, 0L, Gen.value(seed, i, 71))), schema)
    val tx = TxTable(spark, dir.resolve("tx").toString)
    tx.append(base, tsMillis = T0Ms)
    DeltaInterop.exportDelta(tx, dir.resolve("delta").toString, T0Ms)
    IcebergInterop.exportIceberg(tx, dir.resolve("iceberg").toString, T0Ms)
    State(dir, tx, model)
  }

  def dirBytes(p: Path): Long = {
    val s = Files.walk(p)
    try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum finally s.close()
  }

  def run(ctx: Ctx): (Outcome, Double) = {
    val (st, setupS) = ctx.setupReps(SetupReps)(dir => setup(ctx, dir))
    val spark = ctx.spark
    import spark.implicits._
    val model = st.model
    var nextKey = TableRows.toLong
    var clock = T0Ms
    def tick(): Long = { clock += 1000L; clock }
    /** Time in ms of each checked library call since the last reset, by span name. */
    val opMs = scala.collection.mutable.LinkedHashMap.empty[String, scala.collection.mutable.ArrayBuffer[Double]]
    var appliedBytes = 0L
    var rowsApplied = 0L

    def read(fmt: String, prevVersion: Option[Long]): DataFrame = (fmt, prevVersion) match {
      case ("tx", None) => st.tx.read()
      case ("tx", Some(v)) => st.tx.readVersion(v)
      case ("delta", v) => DeltaInterop.readDelta(spark, path(st, fmt), v)
      case ("iceberg", v) => IcebergInterop.readIceberg(spark, path(st, fmt), v)
    }
    def version(fmt: String): Long = fmt match {
      case "tx" => st.tx.version()
      case "delta" => DeltaInterop.deltaVersionAt(path(st, fmt), Long.MaxValue)
      case "iceberg" => IcebergInterop.icebergSnapshotAt(path(st, fmt), Long.MaxValue)
    }
    /** A library call whose result `body` checks; its time goes to `opMs`. */
    def timedOp(name: String)(body: => Boolean): Unit =
      opMs.getOrElseUpdate(name, scala.collection.mutable.ArrayBuffer.empty) +=
        ctx.op(name)(body)(identity)._2 / 1e6
    def readOp(name: String, df: => DataFrame, expected: Sig): Unit =
      timedOp(name) {
        val agg = Sig.frame(df)
        ctx.recorder.plan(agg)
        Sig.of(agg.collect()(0)) == expected
      }

    /** Batch `b`, written as parquet, with the model's signatures before
      * and after it. */
    final case class Batch(ups: DataFrame, dels: DataFrame, delKeys: Seq[Long], replaced: Long,
        before: Sig, after: Sig, bytes: Long, dir: Path)
    def batch(b: Int): Batch = {
      val g = Gen.cdcBatch(ctx.seed, b, model.rows.keysIterator.toIndexedSeq, nextKey, Upserts, Deletes)
      nextKey = g.nextKey
      val ts = b + 1L
      val bdir = ctx.tmpDir(s"batch$b")
      g.upserts.map { case (id, v) => (id, ts, v) }.toDF("id", "ts", "v")
        .coalesce(1).write.parquet(bdir.resolve("upserts").toString)
      g.deletes.toDF("id").coalesce(1).write.parquet(bdir.resolve("deletes").toString)
      val replaced = g.upserts.count { case (id, _) => model.rows.contains(id) }
      val before = model.sig
      g.upserts.foreach { case (id, v) => model.put(id, (ts, v)) }
      g.deletes.foreach(model.delete)
      Batch(spark.read.parquet(bdir.resolve("upserts").toString),
        spark.read.parquet(bdir.resolve("deletes").toString), g.deletes, replaced.toLong,
        before, model.sig, dirBytes(bdir), bdir)
    }

    /** Applies `bt` to format `f`: upsert, delete, the latest read and the
      * as-of read of the version before the batch (both checked against
      * the model; equal signatures across formats are the formats'
      * agreement), then a compaction. Reads come before the compaction, so
      * they pay for one batch of merge-on-read deletes. Returns the wall
      * time. */
    def apply(f: String, bt: Batch): Long = {
      val prev = ctx.recorder.call("bench.prepare")(version(f))._1
      val t0 = System.nanoTime()
      val p = path(st, f)
      f match {
        case "tx" =>
          timedOp("sources.tx.upsert")(st.tx.merge(bt.ups, Seq("id"), "ts", "ts", tick()) >= 0)
          timedOp("sources.tx.delete")(st.tx.delete(col("id").isin(bt.delKeys: _*), tick()) >= 0)
        case "delta" =>
          timedOp("sources.delta.upsert")(
            DeltaInterop.mergeDelta(spark, p, bt.ups, Seq("id"), tick()) == ((bt.replaced, Upserts.toLong)))
          timedOp("sources.delta.delete")(
            DeltaInterop.deleteFromDelta(spark, p, col("id").isin(bt.delKeys: _*), tick()) == bt.delKeys.size)
        case "iceberg" =>
          timedOp("sources.iceberg.upsert")(
            IcebergInterop.upsertIceberg(spark, p, bt.ups, Seq("id"), tick())._2 == Upserts)
          timedOp("sources.iceberg.delete")(
            IcebergInterop.deleteFromIcebergByKey(spark, p, bt.dels, tick()) == bt.delKeys.size)
      }
      readOp(s"sources.$f.read", read(f, None), bt.after)
      readOp(s"sources.$f.read_history", read(f, Some(prev)), bt.before)
      timedOp(s"sources.$f.compact")(f match {
        case "tx" => st.tx.compact(tsMillis = tick()) >= 0
        case "delta" => DeltaInterop.purgeDeltaDvs(spark, p, tick())._1 >= 0
        case "iceberg" => IcebergInterop.rewriteIcebergData(spark, p, tick())._1 >= 0
      })
      System.nanoTime() - t0
    }

    /** Iteration `b`: batch b applied to every format in turn, so every
      * iteration does the same work and a change to any one format moves
      * its time. */
    def step(b: Int): Long = {
      val bt = ctx.recorder.call("bench.prepare")(batch(b))._1
      val ns = Formats.map(apply(_, bt)).sum
      rowsApplied += Formats.size * (Upserts + Deletes)
      appliedBytes += Formats.size * bt.bytes
      Main.deleteRecursively(bt.dir)
      ns
    }

    ctx.warmup(WarmupRounds)(step)
    def bytesNow() = Formats.map(f => f -> dirBytes(st.dir.resolve(f))).toMap
    // the counters cover the reported phase (the traced one in a traced run)
    var bytes0 = Map.empty[String, Long]
    def reset(): Unit = { opMs.clear(); appliedBytes = 0L; rowsApplied = 0L; bytes0 = bytesNow() }
    val (plain, plainNs, traced, tracedNs) = ctx.phases(i => step(i + WarmupRounds), reset _, MinRounds)
    def times(ops: String*) =
      opMs.toSeq.collect { case (n, ts) if ops.exists(o => n.endsWith("." + o)) => ts }.flatten
    val commits = times("upsert", "delete")
    val reads = times("read", "read_history")
    val written = Formats.map(f => f -> (dirBytes(st.dir.resolve(f)) - bytes0(f))).toMap
    val files = Map(
      "tx" -> st.tx.snapshotInfo().files.size.toDouble,
      "delta" -> DeltaInterop.readDelta(spark, path(st, "delta")).inputFiles.length.toDouble,
      "iceberg" -> IcebergInterop.readIceberg(spark, path(st, "iceberg")).inputFiles.length.toDouble)
    val layer = Map(
      "cdc.commit_p50_ms" -> Stats.median(commits),
      "cdc.read_p50_ms" -> Stats.median(reads),
      "cdc.rows_per_s" -> rowsApplied / (commits.sum / 1e3),
      "cdc.write_amp" -> written.values.sum.toDouble / appliedBytes) ++
      Formats.flatMap(f => Seq(
        s"sources.$f.bytes_written" -> written(f).toDouble,
        s"sources.$f.files_live" -> files(f)))
    // a typical round: every step at its median over the reported rounds
    val typical = Iter((opMs.values.map(ts => Stats.median(ts.toSeq)).sum * 1e6).toLong,
      (Formats.size * (Upserts + Deletes)).toDouble)
    (Outcome(plain, traced, plainNs, tracedNs, typical, layer), setupS)
  }
}
