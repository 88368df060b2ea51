package graft

import org.apache.spark.scheduler._

/** Throwaway per-job profiler (NOT registered in the driver surface):
  * runs named queries once and prints every Spark job's wall, task
  * count, executor CPU and the first line of its call site — the
  * "where does the wall go" view Bench's single number hides.
  * Usage: runMain graft.JobProfile <sfDir> <name[,name...]> */
object JobProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args(1).split(",").toSet
    val spark = LocalSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    case class J(id: Int, var desc: String, var t0: Long = 0L, var t1: Long = 0L,
      var tasks: Int = 0, var cpuNs: Long = 0L, var runMs: Long = 0L,
      var deserMs: Long = 0L, var gcMs: Long = 0L, var fetchMs: Long = 0L,
      var shufWriteNs: Long = 0L)
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, J]()
    val stageToJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val d = Option(e.properties)
          .flatMap(p => Option(p.getProperty("callSite.short")))
          .orElse(e.stageInfos.lastOption.map(_.name.takeWhile(_ != '\n')))
          .getOrElse("?")
        val j = J(e.jobId, d, e.time)
        jobs.put(e.jobId, j)
        e.stageIds.foreach(s => stageToJob.put(s, e.jobId))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        val j = jobs.get(e.jobId); if (j != null) j.t1 = e.time
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val jid = stageToJob.get(e.stageId)
        val j = jobs.get(jid)
        if (j != null && e.taskMetrics != null) {
          val m = e.taskMetrics
          j.synchronized {
            j.tasks += 1; j.cpuNs += m.executorCpuTime
            j.runMs += m.executorRunTime; j.deserMs += m.executorDeserializeTime
            j.gcMs += m.jvmGCTime
            j.fetchMs += m.shuffleReadMetrics.fetchWaitTime
            j.shufWriteNs += m.shuffleWriteMetrics.writeTime
          }
        }
      }
    })

    val selected = SparkEntry.queries.filter { case (n, _) => names.contains(n) }
    selected.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      // warm-up at sf0.001 so codegen/JIT is not billed
      try fn(spark, "/root/testdata/sf0.001").write.format("noop").mode("overwrite").save()
      catch { case e: Throwable => System.err.println(s"warmup $name: $e") }
      CacheScope.releaseAll()
      jobs.clear(); stageToJob.clear()
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      val wall = (System.nanoTime() - t0) / 1e9
      Thread.sleep(500)
      CacheScope.releaseAll()
      println(f"%n===== $name  wall=$wall%.3f s  jobs=${jobs.size} =====")
      import scala.jdk.CollectionConverters._
      val js = jobs.values.asScala.toSeq.sortBy(_.id)
      // gaps between jobs = driver-side time
      var prevEnd = 0L
      js.foreach { j =>
        val gap = if (prevEnd == 0) 0.0 else (j.t0 - prevEnd) / 1e3
        prevEnd = math.max(prevEnd, j.t1)
        val w = (j.t1 - j.t0) / 1e3
        println(f"job ${j.id}%3d  wall=$w%7.3f  gap=$gap%7.3f  tasks=${j.tasks}%4d  cpu=${j.cpuNs / 1e9}%7.3f  trun=${j.runMs / 1e3}%8.3f  deser=${j.deserMs / 1e3}%6.3f  gc=${j.gcMs / 1e3}%6.3f  fetch=${j.fetchMs / 1e3}%6.3f  swrite=${j.shufWriteNs / 1e9}%6.3f  ${j.desc.take(70)}")
      }
      val jw = js.map(j => (j.t1 - j.t0)).sum / 1e3
      println(f"sum(job walls)=$jw%.3f s; driver/other=${wall - jw}%.3f s")
    }
    spark.stop()
  }
}
