package graft.tools

import graft.util.LocalSpark

/** Ad-hoc operator timing harness (reps; rep 1 includes JIT — trust 2+).
  * Currently: neardup-LSH bits/tables sweep, the knobs that must grow
  * with the corpus
  * (usage: runMain graft.tools.TimeOp <sfDir> <bits> [tables=8] [reps=2]).
  */
object TimeOp {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val bits = args(1).toInt
    val tables = if (args.length > 2) args(2).toInt else 8
    val reps = if (args.length > 3) args(3).toInt else 2
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = LocalSpark.builder(cpus, "graft-timeop").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    (1 to reps).foreach { i =>
      val t0 = System.nanoTime()
      val n = graft.ops.Similarity
        .lshNearDupPairs(emb, 0.9, bits = bits, tables = tables).count()
      println(f"timeop: rep=$i bits=$bits tables=$tables pairs=$n " +
        f"sec=${(System.nanoTime() - t0) / 1e9}%.2f")
    }
    spark.stop()
  }
}
