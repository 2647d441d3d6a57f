package graft

import org.apache.spark.sql.SparkSession

/** Shared local SparkSession for all specs (one JVM per `sbt test` fork),
  * and the listener-counted job probes the specs pin plans with. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** The tasks of each Spark job's result stage, for the jobs started while
    * `body` runs, in start order. A marker job after it flushes the
    * listener bus: its events arrive after every earlier one. */
  def jobTasksOf(body: => Unit): Seq[Int] = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val marker = s"jobs-of-marker-${System.nanoTime}"
    val started = new java.util.concurrent.LinkedBlockingQueue[(String, Int)]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        started.put((Option(e.properties).flatMap(p =>
          Option(p.getProperty("spark.jobGroup.id"))).getOrElse(""),
          e.stageInfos.maxBy(_.stageId).numTasks))
    }
    sc.addSparkListener(listener)
    try {
      body
      sc.setJobGroup(marker, "listener flush")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val tasks = Seq.newBuilder[Int]
      var job = started.poll(60, java.util.concurrent.TimeUnit.SECONDS)
      while (job != null && job._1 != marker) {
        tasks += job._2
        job = started.poll(60, java.util.concurrent.TimeUnit.SECONDS)
      }
      assert(job != null, "the listener never saw the marker job")
      tasks.result()
    } finally sc.removeSparkListener(listener)
  }

  def jobsOf(body: => Unit): Int = jobTasksOf(body).size
}
