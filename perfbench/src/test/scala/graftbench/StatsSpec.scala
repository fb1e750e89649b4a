package graftbench

import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** The benchmark's own arithmetic and its agreement with BENCHMARK.json. */
class StatsSpec extends AnyFunSuite {

  test("median of odd and even sample counts, in any order") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
    assert(Stats.median(Seq(7.0)) == 7.0)
  }

  test("union of job intervals counts overlaps once and skips empty ones") {
    assert(Stats.unionLength(Seq((0L, 10L), (5L, 15L), (20L, 30L), (30L, 35L), (40L, 40L))) == 30L)
    assert(Stats.unionLength(Seq((20L, 30L), (0L, 100L))) == 100L)
    assert(Stats.unionLength(Seq.empty) == 0L)
    assert(Stats.coveredWithin(10L, 25L, Seq((0L, 12L), (20L, 40L))) == 7L)
  }

  test("self time subtracts overlapping children once, only inside the parent") {
    // children [10,40) and [30,60) overlap; [90,120) outlives the parent
    assert(Stats.selfTime(0L, 100L, Seq((10L, 40L), (30L, 60L), (90L, 120L))) == 40L)
    assert(Stats.selfTime(0L, 100L, Seq.empty) == 100L)
    assert(Stats.selfTime(0L, 100L, Seq((0L, 100L), (20L, 30L))) == 0L)
  }

  test("generators are deterministic for a seed and differ across seeds") {
    val shape = PitTraining.Shape
    def facts(seed: Long) = (0L until 2000L).map(Gen.fact(seed, shape, _))
    def spine(seed: Long) = (0L until 2000L).map(Gen.spineRow(seed, shape, _))
    def cdc(seed: Long) = {
      var live = (0L until 1000L).toIndexedSeq
      var next = 1000L
      (0 until 5).map { b =>
        val batch = Gen.cdcBatch(seed, b, live, next, 200, 50)
        live = (live.filterNot(batch.deletes.toSet) ++ batch.upserts.map(_._1)).distinct
        next = batch.nextKey
        batch
      }
    }
    for (gen <- Seq[Long => Any](facts, spine, cdc)) {
      assert(gen(7L) == gen(7L))
      assert(gen(7L) != gen(8L))
    }
  }

  test("generated facts are unique per series, so no as-of read ties") {
    val shape = PitTraining.Shape
    val fs = (0L until 5000L).flatMap(Gen.fact(3L, shape, _))
    assert(fs.groupBy(f => (f._1, f._2)).values.forall(s => s.map(_._3).distinct.size == s.size))
    assert(fs.forall(f => f._3 >= shape.t0Ms && f._3 < shape.endMs))
  }

  test("CDC batches: distinct upsert keys, deletes live and disjoint from upserts") {
    val live = (0L until 1000L).toIndexedSeq
    val b = Gen.cdcBatch(5L, 0, live, 1000L, 200, 50)
    val ups = b.upserts.map(_._1)
    assert(ups.distinct.size == 200 && b.deletes.distinct.size == 50)
    assert(b.deletes.forall(live.contains) && b.deletes.toSet.intersect(ups.toSet).isEmpty)
    assert(ups.count(_ >= 1000L) == 100 && b.nextKey == 1100L)
  }

  test("BENCHMARK.json names exactly the metrics and workloads the benchmark prints") {
    val file = Paths.get(sys.props("user.dir")).toAbsolutePath.getParent.resolve("BENCHMARK.json")
    assume(Files.exists(file), s"$file not found")
    val json = new ObjectMapper().readTree(file.toFile)
    def names(key: String) = json.get(key).elements().asScala.map(_.get("name").asText).toSeq
    assert(names("end_to_end") == Main.EndToEnd.map(_._1))
    assert(json.get("end_to_end").elements().asScala.map(_.get("unit").asText).toSeq ==
      Main.EndToEnd.map(_._2))
    assert(names("per_layer") == Main.perLayerNames)
    assert(json.get("per_layer").elements().asScala.forall(m =>
      m.get("unit").asText == Main.unitOf(m.get("name").asText)))
    assert(names("workloads").forall(Main.Workloads.contains))
  }
}
