package graft.syncbench

/** One benchmark run in one JVM:
  * `Main <workload> <seed> <seconds> <trace 0|1> <work dir>`.
  * Prints the named metrics, then the result JSON object on a
  * line of its own prefixed with [[Main.ResultTag]]; `run.py` re-emits
  * that object as its last stdout line. */
object Main {
  val ResultTag = "SYNCBENCH_RESULT "
  val Workloads = Seq("replicate", "serve_mixed")

  /** Peak resident set of this JVM, from the kernel's high-water mark. */
  def peakRssMb(): Double = {
    val f = new java.io.File("/proc/self/status")
    if (!f.exists()) Double.NaN
    else {
      val src = scala.io.Source.fromFile(f)
      try src.getLines().collectFirst {
        case l if l.startsWith("VmHWM:") =>
          l.split("\\s+")(1).toDouble / 1024.0
      }.getOrElse(Double.NaN)
      finally src.close()
    }
  }

  def main(args: Array[String]): Unit = {
    val processStartNs = System.nanoTime() -
      (System.currentTimeMillis() -
        java.lang.management.ManagementFactory.getRuntimeMXBean
          .getStartTime) * 1000000L
    require(args.length == 5,
      "usage: Main <workload> <seed> <seconds> <trace 0|1> <work dir>")
    val Array(workload, seedS, secondsS, traceS, work) = args
    require(Workloads.contains(workload), s"unknown workload '$workload'")
    val traced = traceS == "1"
    System.setProperty("spark.sql.warehouse.dir", s"$work/warehouse")
    // timed runs keep the stock local FileSystem; only traced runs
    // count FS operations
    if (traced)
      System.setProperty("spark.hadoop.fs.file.impl",
        classOf[CountingFs].getName)
    val spark = graft.Bench.session()
    val report = new Report(workload, traced)
    val rec = if (traced) Some(Trace.install(spark)) else None
    val ctx = Ctx(spark, seedS.toLong, secondsS.toInt, rec, work, report,
      processStartNs)
    try {
      workload match {
        case "replicate"   => Replicate.run(ctx)
        case "serve_mixed" => ServeMixed.run(ctx)
      }
      val rss = peakRssMb()
      report.named("peak_rss_mb", rss, "MB", "JVM VmHWM")
      report.notes += f"process wall before stop: ${(System.nanoTime() - processStartNs) / 1e9}%.2f s"
      report.printout().foreach(println)
      // spans stay in memory until here
      sys.env.get("SYNCBENCH_TRACE_OUT").filter(_ => traced).foreach { p =>
        val w = new java.io.PrintWriter(p, "UTF-8")
        try report.traceLines.foreach(w.println) finally w.close()
        println(s"trace written to $p")
      }
      println(ResultTag + report.resultJson(
        if (traced) Metrics.PerLayer else Metrics.EndToEnd))
    } finally spark.stop()
  }
}
