// Job-level profile of one query: wall time + task time per Spark job.
// SPARK_GRAFT_Q=q_twopass spark-shell ... -i tools/jobprof.scala
import org.apache.spark.scheduler._
import scala.collection.mutable
spark.sparkContext.setLogLevel("ERROR")
val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
val qname = sys.env.getOrElse("SPARK_GRAFT_Q", "q_twopass")
val jobs = mutable.Map[Int, (Long, String)]()
val done = mutable.ArrayBuffer[(Int, Double, Int, Double, String)]()
val stageTasks = mutable.Map[Int, Int]()
val jobStages = mutable.Map[Int, Seq[Int]]()
val stageTime = mutable.Map[Int, Double]()
spark.sparkContext.addSparkListener(new SparkListener {
  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs(e.jobId) = (System.nanoTime(), Option(e.properties.getProperty("callSite.short")).getOrElse(""))
    jobStages(e.jobId) = e.stageIds
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    stageTasks(e.stageInfo.stageId) = e.stageInfo.numTasks
    stageTime(e.stageInfo.stageId) =
      (e.stageInfo.completionTime.getOrElse(0L) - e.stageInfo.submissionTime.getOrElse(0L)) / 1e3
    val w = (e.stageInfo.completionTime.getOrElse(0L) - e.stageInfo.submissionTime.getOrElse(0L)) / 1e3
    if (w > 0.3) println(f"[stage] ${e.stageInfo.stageId}%4d wall $w%6.2f tasks ${e.stageInfo.numTasks}%4d  ${e.stageInfo.name.take(120)}")
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val (t0, cs) = jobs(e.jobId)
    val st = jobStages.getOrElse(e.jobId, Seq())
    val nt = st.map(stageTasks.getOrElse(_, 0)).sum
    done += ((e.jobId, (System.nanoTime() - t0) / 1e9, nt, 0.0, cs))
  }
})
val all = graft.SparkEntry.queries ++ graft.SparkEntry.benchExtra
// warm once
all(qname)(spark, dir).count()
spark.catalog.clearCache()
spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
done.clear()
val t0 = System.nanoTime()
all(qname)(spark, dir).count()
val total = (System.nanoTime() - t0) / 1e9
Thread.sleep(500)
println(f"[jobprof] $qname total $total%.2f s, ${done.size} jobs, job-wall sum ${done.map(_._2).sum}%.2f")
done.foreach { case (id, w, nt, _, cs) =>
  println(f"[jobprof]   job $id%3d  wall $w%6.3f  tasks $nt%4d  $cs")
}
System.exit(0)
