package graft

import org.apache.spark.sql.SparkSession

/** The one local session the harness mains (Bench, Verify, Profile) run
  * on, so a query timed by Profile runs under the same settings Bench and
  * Verify use. `SPARK_GRAFT_CPUS` (default 4) sets both the local core
  * count and the shuffle partition count.
  */
object LocalSession {

  /** Point java.io.tmpdir at a pid-stamped RAM-disk dir named `tmpPrefix`
    * (when /dev/shm is usable) and build the session on it.
    *
    * Throwaway I/O goes to tmpfs: TxTable fixtures, streaming checkpoints
    * and shuffle spill all go through java.io.tmpdir, so on a RAM disk the
    * harness measures the engine, not the container's virtual disk
    * (production tables live on real storage; harness fixtures don't).
    * Ordering contract (TmpCleanup.createOwnDir): call this before ANY
    * java.nio temp-file API call in the JVM, or TempFileHelper pins the
    * original /tmp and every later createTempDirectory silently leaves the
    * RAM disk.
    */
  def build(tmpPrefix: String): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    TmpCleanup.useShmTmpdir(tmpPrefix)
    SparkSession.builder()
      // the engine's Catalyst surface (SQL functions, native as-of
      // strategy, conf-gated masking rule) — the intended deployment
      // shape; a no-op unless a query opts in
      .withExtensions(new org.apache.spark.sql.graft.GraftExtensions)
      .config("spark.local.dir", System.getProperty("java.io.tmpdir"))
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      // let AQE re-coalesce shuffle partitions even under .cache() —
      // iterative ops (connected components, Lloyd) cache tiny frames whose
      // fixed 32-way partitioning otherwise costs ~100 empty tasks/iteration
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      // day-bucketing queries derive UTC days; an unpinned session zone
      // would shift midnight-adjacent rows on non-UTC hosts
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
  }
}
