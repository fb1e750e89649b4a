package graft

/** Dev harness: per-query cold/warm timing + optional plan dump.
  * Usage: runMain graft.Profile <sfDir> [explain] [query ...]
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val rest = args.drop(1)
    val explain = rest.contains("explain")
    val names = rest.filterNot(_ == "explain")
    val spark = LocalSession.build("graft-profile-")
    spark.sparkContext.setLogLevel("ERROR")
    // dev A/B knob: arbitrary session confs, e.g.
    // SPARK_GRAFT_CONF="spark.sql.streaming.noDataMicroBatches.enabled=false,k=v"
    // comma-separated k=v list; a valueless entry fails loudly with the
    // offending text instead of a bare MatchError (values containing commas
    // are not expressible — documented limitation of this dev knob)
    sys.env.get("SPARK_GRAFT_CONF").foreach(_.split(',').foreach { kv =>
      val parts = kv.split("=", 2)
      require(parts.length == 2, s"SPARK_GRAFT_CONF entry without '=': '$kv'")
      spark.conf.set(parts(0), parts(1))
    })

    // opt-in per-job wall-time log (SPARK_GRAFT_JOBLOG=1): prints one line
    // per Spark job with its duration and triggering call site — the
    // measurement tool the optimization guide's §1 loop needs when the UI
    // is disabled (maps a query's seconds onto the operator lines that
    // spent them)
    if (sys.env.get("SPARK_GRAFT_JOBLOG").contains("1")) {
      spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        private val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
        override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          val site = Option(js.properties)
            .flatMap(p => Option(p.getProperty("callSite.short")))
            .orElse(js.stageInfos.lastOption.map(_.name))
            .getOrElse("?")
          starts.put(js.jobId, (System.nanoTime(), site))
        }
        override def onJobEnd(je: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
          Option(starts.remove(je.jobId)).foreach { case (t0, site) =>
            val ms = (System.nanoTime() - t0) / 1e6
            if (ms >= 1) println(f"[job] ${je.jobId}%5d ${ms}%9.1f ms  $site")
          }
        }
      })
    }

    val qs = if (names.nonEmpty) SparkEntry.queries.filter(kv => names.contains(kv._1))
             else SparkEntry.queries
    qs.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      def time(): Double = {
        val t0 = System.nanoTime()
        val df = fn(spark, sfDir)
        if (sys.env.get("SPARK_GRAFT_JOBLOG").contains("1")) {
          val tb = System.nanoTime()
          df.queryExecution.executedPlan // force analysis+optimization+planning
          println(f"[plan] build+plan ${(System.nanoTime() - t0) / 1e6}%9.1f ms (plan-only ${(System.nanoTime() - tb) / 1e6}%9.1f ms)")
        }
        df.count()
        (System.nanoTime() - t0) / 1e9
      }
      val cold = time()
      val warm = time()
      val warm2 = time()
      println(f"[profile] $name%-22s cold=$cold%7.2fs warm=$warm%7.2fs warm2=$warm2%7.2fs")
      if (explain) fn(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
