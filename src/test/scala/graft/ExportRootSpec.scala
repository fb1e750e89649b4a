package graft

import java.nio.file.{Files, Paths}

/** The fixed export tables the b5 queries write land under the test JVM's
  * own root (build.sbt passes `graft.exportRoot`), never under the default
  * root that graft.Verify and the oracle SQL use — so `sbt test` and a
  * concurrent Verify run cannot overwrite each other's tables.
  */
class ExportRootSpec extends SparkSpec {
  private val sfBase = "/root/testdata/sf0.001"

  test("b5_delta_export writes its _delta_log under the test JVM's export root") {
    val root = sys.props.get("graft.exportRoot")
    assert(root.isDefined, "the forked test JVM must be given its own export root")
    val table = Paths.get(root.get, "b5_delta")
    graft.sources.DeltaInterop.deleteRecursively(table)
    assert(SparkEntry.queries("b5_delta_export")(spark, sfBase).count() > 0)
    assert(Files.isDirectory(table.resolve("_delta_log")),
      s"no _delta_log under $table")
  }
}
