// Per-query timing harness:
//   SPARK_GRAFT_QS="q_a,q_b" SPARK_GRAFT_REPS=3 \
//   /opt/spark/bin/spark-shell --master 'local[32]' \
//     --conf spark.sql.shuffle.partitions=32 \
//     --conf spark.sql.adaptive.coalescePartitions.minPartitionSize=64k \
//     --conf spark.sql.session.timeZone=UTC \
//     --conf spark.sql.legacy.parquet.nanosAsLong=true \
//     --conf spark.sql.extensions=graft.plans.GraftExtensions \
//     --driver-class-path target/scala-2.13/classes -i tools/time.scala
// Times each query's count() as Bench does (SPARK_GRAFT_ACTION=noop uses
// the noop sink instead), cold + N warm reps (N = 0 prints the cold time
// only), and prints a compact table. Also dumps .explain("formatted") to
// plans/<q>_<tag>.txt when SPARK_GRAFT_TAG is set.
val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt
val tag = sys.env.getOrElse("SPARK_GRAFT_TAG", "")
val qs = sys.env.getOrElse("SPARK_GRAFT_QS", "").split(",").map(_.trim).filter(_.nonEmpty)
spark.sparkContext.setLogLevel("ERROR")
val all = graft.SparkEntry.queries ++ graft.SparkEntry.benchExtra
def clearState(): Unit = {
  spark.catalog.clearCache()
  spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
}
for (name <- qs) {
  val fn = all(name)
  spark.sparkContext.setJobDescription(s"time $name")
  if (tag.nonEmpty) {
    val df = fn(spark, dir)
    val plan = df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get("plans"))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"plans/${name}_$tag.txt"), plan)
    clearState()
  }
  // default action mirrors Bench.scala (count) so numbers line up with the
  // driver's methodology; noop (guide 1.4) is available for diagnosis
  val action = sys.env.getOrElse("SPARK_GRAFT_ACTION", "count")
  val times = (0 to reps).map { i =>
    val t0 = System.nanoTime()
    if (action == "noop")
      fn(spark, dir).write.format("noop").mode("overwrite").save()
    else fn(spark, dir).count()
    val s = (System.nanoTime() - t0) / 1e9
    clearState()
    s
  }
  val warm =
    if (times.tail.isEmpty) ""
    else f"  warm ${times.tail.map(t => f"$t%5.2f").mkString(" ")}  min ${times.tail.min}%5.2f"
  println(f"[time] $name%-28s cold ${times.head}%6.2f$warm")
}
System.exit(0)
