package graft.tools

import graft.util.LocalSpark
import java.nio.file.{Files, Paths}

/** Snapshots the `.explain("formatted")` output of named driver queries
  * into one file per query — the before/after plan evidence the
  * optimization rounds commit under plans/rNN/.
  *
  *   runMain graft.tools.PlanSnap <outDir> <suffix> <q1,q2,...> [sfDir]
  *
  * writes <outDir>/<query>_<suffix>.txt for each query. Queries whose
  * registered body executes eagerly (bpe_train's training loop, the
  * streaming queries) return a small local/memory-table result whose
  * plan is not the interesting one — they are still dumped (the file
  * records that fact), with internal-stage plans added by hand where
  * needed.
  */
object PlanSnap {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: PlanSnap <outDir> <suffix> <q1,q2,...> [sfDir]")
    val outDir = Paths.get(args(0))
    val suffix = args(1)
    val names = args(2).split(",").map(_.trim).filter(_.nonEmpty)
    val sfDir = if (args.length > 3) args(3) else "/root/testdata/sf0.01"
    Files.createDirectories(outDir)
    val spark = LocalSpark.builder(8, "graft-plansnap").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { name =>
      val plan = graft.SparkEntry.queries(name)(spark, sfDir)
        .queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
      Files.write(outDir.resolve(s"${name}_$suffix.txt"),
        plan.getBytes("UTF-8"))
      println(s"wrote ${name}_$suffix.txt (${plan.linesIterator.size} lines)")
    }
    spark.stop()
  }
}
