package graft.tools

import graft.util.LocalSpark

/** One timed extraction pass over a pre-staged pages dir at a given
  * parallelism — the unit step of the two-JVM bandwidth adjudication:
  * two concurrent `ExtractRate dir 16` JVMs summing to one JVM's
  * `ExtractRate dir 32` rate (rather than 2x the solo-16 rate) proves
  * the full-width ceiling is machine-level (memory bandwidth), not
  * JVM/Spark-level (GC, scheduler, locks).
  *
  *   runMain graft.tools.StagePages <dir> [pages]   — stage input once
  *   runMain graft.tools.ExtractRate <dir> <threads> [reps]
  */
object ExtractRate {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val threads = args(1).toInt
    val reps = if (args.length > 2) args(2).toInt else 2
    val spark = LocalSpark.builder(threads, s"extract-rate-$threads")
      .config("spark.sql.files.maxPartitionBytes", (4 * 1024 * 1024).toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val pages = spark.read.parquet(dir)
    // JIT warm-up on a slice, then timed full passes
    graft.extract.Extract.extractPages(pages.limit(8000)).count()
    var n = 0L
    var bestSecs = Double.MaxValue
    for (r <- 1 to reps) {
      val t0 = System.nanoTime()
      n = graft.extract.Extract.extractPages(pages).count()
      val secs = (System.nanoTime() - t0) / 1e9
      bestSecs = math.min(bestSecs, secs)
      println(f"extract-rate rep $r threads=$threads rows=$n secs=$secs%.2f rate=${n / secs}%.0f")
    }
    println(f"extract-rate BEST threads=$threads rate=${n / bestSecs}%.0f docs/s")
    spark.stop()
  }
}

object StagePages {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val pages = if (args.length > 1) args(1).toLong else 480000L
    val spark = LocalSpark.builder(32, "stage-pages").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.table.SyntheticPages.generate(spark, pages, partitions = 128)
      .toDF().write.mode("overwrite").parquet(dir)
    spark.stop()
  }
}
