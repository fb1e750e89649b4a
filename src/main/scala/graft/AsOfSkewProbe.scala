package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators.AsOfJoin

/** Dev harness: the flagship as-of join under HOT-KEY SKEW — one entity
  * holding ~10% of all facts (the "celebrity user" a 100 TB event log
  * always has). Measures the as-of join and its skew variants on
  * identical data and asserts they agree bit-for-bit:
  *
  *   - native      — AsOfJoinExec merge-scan (one merge task for the key)
  *   - locfSalted  — spine scatters over salt buckets, facts replicate
  *   - locfRouted  — only the hot key salted, the tail plain native
  *
  * Usage: runMain graft.AsOfSkewProbe [nFacts] [nSpine] [nKeys] [hotPct] [saltBuckets]
  * Results are recorded in the [[graft.operators.AsOfJoin.locfSalted]]
  * Scaladoc crossover table.
  */
object AsOfSkewProbe {
  def main(args: Array[String]): Unit = {
    val nFacts = args.headOption.map(_.toLong).getOrElse(20000000L)
    val nSpine = args.lift(1).map(_.toLong).getOrElse(2000000L)
    val nKeys  = args.lift(2).map(_.toLong).getOrElse(100000L)
    val hotPct = args.lift(3).map(_.toInt).getOrElse(10)
    val salt   = args.lift(4).map(_.toInt).getOrElse(16)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val hotFacts = nFacts * hotPct / 100
    val hotSpine = nSpine * hotPct / 100
    // first hotPct% of rows all land on key 0; the rest spread uniformly
    def facts = spark.range(nFacts).select(
      when(col("id") < hotFacts, 0L).otherwise(col("id") % nKeys).as("k"),
      timestamp_seconds(lit(1700000000L) + pmod(xxhash64(col("id")), lit(30000000L))).as("fts"),
      col("id").as("tie"),
      (col("id") % 1000).cast("double").as("v"))
    def spine = spark.range(nSpine).select(
      when(col("id") < hotSpine, 0L).otherwise(col("id") % (nKeys * 2)).as("k"),
      timestamp_seconds(lit(1700000000L) + pmod(xxhash64(col("id"), lit(7)), lit(30000000L))).as("sts"),
      col("id").as("tag"))

    def checksum(df: org.apache.spark.sql.DataFrame): Long =
      df.select(xxhash64(struct(df.columns.sorted.map(col).toIndexedSeq: _*)).as("h"))
        .agg(expr("bit_xor(h)")).collect().head.getLong(0)

    var sums = Map.empty[String, Long]
    def time(name: String, variant: String)(f: => Long): Unit = {
      val t0 = System.nanoTime()
      val n = f
      println(f"[skew] $name%-12s ${(System.nanoTime() - t0) / 1e9}%8.2fs  checksum=$n")
      sums += variant -> n
    }

    // the documented salting pattern, now first-class as AsOfJoin.locfRouted:
    // only the hot key takes the salted path (its facts replicate
    // saltBuckets times), the long tail runs plain native — salting the
    // whole join replicates EVERY fact and loses by construction
    def routed = AsOfJoin.locfRouted(
      spine, facts, Seq("k"), "sts", "fts", Seq("v"), "tie",
      hotKeys = Seq(0L), saltBuckets = salt)

    println(s"[skew] facts=$nFacts spine=$nSpine keys=$nKeys hot=$hotPct% salt=$salt cpus=$cpus")
    for (rep <- 1 to 2) {
      time(s"salted#$rep", "salted") {
        checksum(AsOfJoin.locfSalted(spine, facts, Seq("k"), "sts", "fts", Seq("v"), "tie", salt))
      }
      time(s"routed#$rep", "routed") { checksum(routed) }
      time(s"native#$rep", "native") {
        checksum(AsOfJoin.native(spine, facts, Seq("k"), "sts", "fts", Seq("v"), "tie"))
      }
    }
    require(Seq("salted", "routed").forall(v => sums(v) == sums("native")),
      s"formulations disagree under skew: $sums")
    println("[skew] salted and routed bit-identical to native")
    spark.stop()
  }
}
