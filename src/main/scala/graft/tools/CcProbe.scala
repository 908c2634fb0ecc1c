package graft.tools

import graft.util.LocalSpark
import org.apache.spark.sql.functions._

/** Connected-components round-bound probe: mines the dedup_cc query's
  * pair set at a tier and reports the star-contraction round count,
  * component stats, and wall time — the log-diameter evidence for
  * BENCH_SCALE.md at the 10-clique (ScaleUp) tier.
  *
  *   runMain graft.tools.CcProbe <sfDir> [reps=2]
  */
object CcProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val reps = if (args.length > 1) args(1).toInt else 2
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = LocalSpark.builder(cpus, "cc-probe").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .where(col("doc_id") < 2000)
    for (r <- 1 to reps) {
      val t0 = System.nanoTime()
      val pairs = graft.ops.Dedup.minhashLshPairs(docs,
        threshold = 0.8, numHashes = 64, bands = 32, shingleSize = 3)
      val nPairs = pairs.count()
      val t1 = System.nanoTime()
      val (cc, rounds) = graft.ops.Dedup.connectedComponentsWithRounds(pairs)
      val stats = cc.groupBy("component").agg(count(lit(1)).as("sz"))
        .agg(count(lit(1)), max("sz"), sum("sz")).collect()(0)
      val t2 = System.nanoTime()
      println(f"[cc-probe] rep=$r pairs=$nPairs rounds=$rounds " +
        f"components=${stats.getLong(0)} largest=${stats.getLong(1)} nodes=${stats.getLong(2)} " +
        f"mine_sec=${(t1 - t0) / 1e9}%.2f cc_sec=${(t2 - t1) / 1e9}%.2f")
    }
    spark.stop()
  }
}
