package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Keeps the harness thin: the library under src/main has exactly three
  * entry points, and they share one session builder (LocalSession). A new
  * main or a second hand-built session shows up here, not as another copy
  * of the settings drifting out of step.
  */
class SourceAuditSpec extends AnyFunSuite {
  private val mainRoot = Paths.get("src/main/scala")

  /** (file relative to src/main/scala, code line) for every non-comment
    * line of every Scala source. */
  private lazy val codeLines: Seq[(String, String)] = {
    assert(Files.isDirectory(mainRoot), s"$mainRoot not found from ${Paths.get("").toAbsolutePath}")
    val walk = Files.walk(mainRoot)
    val files = try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
                finally walk.close()
    files.sortBy(_.toString).flatMap { (p: Path) =>
      val rel = mainRoot.relativize(p).toString
      Files.readAllLines(p).asScala.map(_.trim)
        .filterNot(l => l.startsWith("//") || l.startsWith("/*") || l.startsWith("*"))
        .map(rel -> _)
    }
  }

  test("only graft.Bench, graft.Verify and graft.Profile define a main") {
    val mains = codeLines.collect {
      case (f, l) if l.contains("def main(") || l.matches(""".*\bextends\s+App\b.*""") => f
    }.distinct.sorted
    assert(mains == Seq("graft/Bench.scala", "graft/Profile.scala", "graft/Verify.scala"))
  }

  test("only FileSnapshot turns a file list into a frame: fill, row positions, provenance, field ids, range pruning") {
    val banned = Seq("_metadata.row_index", "input_file_name", "option(\"basePath\"",
      "fieldId.read.enabled")
    val tupleJoin = """broadcast\(\w*[Tt]uple""".r
    // the range rule's overlap test (a bound's hi >= lo and lo <= hi)
    val overlap = """>=\s*lo\b.*<=\s*hi\b""".r
    val hits = codeLines.filter { case (f, l) =>
      f.startsWith("graft/sources/") && f != "graft/sources/FileSnapshot.scala" &&
        (banned.exists(l.contains) || tupleJoin.findFirstIn(l).nonEmpty ||
          overlap.findFirstIn(l).nonEmpty)
    }
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  test("each lakehouse format opens a table in one place, and Iceberg row-level writers share one commit") {
    def lines(file: String, needle: String): Seq[String] = codeLines.collect {
      case (f, l) if f == s"graft/sources/$file" && l.contains(needle) => l
    }
    // Iceberg: one format-version read and refusal, one metadata/ check
    assert(lines("IcebergInterop.scala", "get(\"format-version\")").size == 1)
    assert(lines("IcebergInterop.scala", "only v1/v2 are supported").size == 1)
    assert(lines("IcebergInterop.scala", "missing metadata/").size == 1)
    // Delta: one metaData-presence check, one schema parse, one _delta_log/ check
    assert(lines("DeltaInterop.scala", "carries no metaData action").size == 1)
    assert(lines("DeltaInterop.scala", "DataType.fromJson(meta.schemaJson)").size == 1)
    assert(lines("DeltaInterop.scala", "missing $LogDirName").size == 1)
    val hand = codeLines.filter(_._2.contains("commitV2DeleteSnapshot"))
    assert(hand.isEmpty, hand.mkString("\n"))
  }

  test("one parquet footer reader, and the table formats write parquet only through StagedWrite") {
    val opens = codeLines.filter(_._2.contains("ParquetFileReader.open"))
    assert(opens.map(_._1) == Seq("graft/sources/StagedWrite.scala"), opens.mkString("\n"))
    // a DataFrameWriter (`.write` chained or ending the line — never an
    // OutputStream's `write(`) or a parquet-hadoop writer. Lakehouse's
    // plain-parquet layout helpers write where their caller asks: no table
    // commit goes through them.
    val writer = """\.write(\.|$)|saveAsTable|ParquetWriter""".r
    val hits = codeLines.filter { case (f, l) =>
      f.startsWith("graft/sources/") && f != "graft/sources/StagedWrite.scala" &&
        f != "graft/sources/Lakehouse.scala" && writer.findFirstIn(l).nonEmpty
    }
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  test("SparkSession.builder() is called in exactly one place") {
    val calls = codeLines.filter { case (_, l) =>
      l.contains("SparkSession.builder") || l.startsWith(".builder()")
    }
    assert(calls.map(_._1) == Seq("graft/LocalSession.scala"), calls.mkString("\n"))
  }
}
