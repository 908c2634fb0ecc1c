package graft.tools

import graft.util.LocalSpark

/** One-query timing harness for plan iteration:
  * runMain graft.tools.TimeQuery <queryName> <sfDir> [reps=2]
  */
object TimeQuery {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 2
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = LocalSpark.builder(cpus, s"time-$name").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    for (r <- 1 to reps) {
      val t0 = System.nanoTime()
      val n = graft.SparkEntry.queries(name)(spark, sfDir).count()
      println(f"[time-query] $name rep=$r rows=$n sec=${(System.nanoTime() - t0) / 1e9}%.3f")
    }
    spark.stop()
  }
}
