package graft.tools

import graft.util.LocalSpark
import org.apache.spark.sql.functions._

/** lshSizing validation at a mid-scale tier (round-4 verdict item 7):
  * synthesize `factor`× the sf0.1 embeddings as PERTURBED clones —
  * copy c of vector v is normalize-ish `v/|v| + delta_c * u/|u|` with
  * deterministic hash-noise u and delta_c in [0.10, 0.45), so clique
  * pair cosines straddle the 0.9 design point instead of being the
  * trivially-always-colliding cos=1.0 duplicates ScaleUp makes.
  *
  * Ground truth = EXACT per-clique brute force (cliques are 100
  * vectors, so truth costs n*factor*(factor-1)/2 cosines, never n²);
  * recall is measured on within-clique true pairs, an unbiased subset
  * (LSH cannot distinguish clique pairs from any other pair at the
  * same cosine). Every reported pair is exact-verified, so precision
  * is 1.0 by construction.
  *
  *   runMain graft.tools.LshRecallTier [factor=100] [threshold=0.9]
  */
object LshRecallTier {

  /** Deterministic noise component j of the clone id's noise vector. */
  private def noise(id: Long, j: Int): Double = {
    var h = id * 0x9e3779b97f4a7c15L ^ (j * 0xff51afd7ed558ccdL)
    h ^= h >>> 33; h *= 0xc4ceb9fe1a85ec53L; h ^= h >>> 33
    (h >>> 11).toDouble * 1.1102230246251565e-16 * 2.0 - 1.0
  }

  def main(args: Array[String]): Unit = {
    val factor = if (args.length > 0) args(0).toInt else 100
    val threshold = if (args.length > 1) args(1).toDouble else 0.9
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = LocalSpark.builder(cpus, s"lsh-recall-$factor").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val base = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
      .select(col("vec_id").cast("long"), col("embedding"))
      .as[(Long, Array[Float])]
    // perturbed-clone tier: new_id = old*factor + c (ScaleUp's interleave)
    val scaled = base.flatMap { case (id, v) =>
      val norm = math.sqrt(v.map(x => x.toDouble * x).sum)
      val unit = v.map(x => if (norm == 0) 0.0 else x / norm)
      (0 until factor).iterator.map { c =>
        val nid = id * factor + c
        if (c == 0) (nid, unit.map(_.toFloat))
        else {
          val delta = 0.10 + 0.35 * ((c * 7) % 10) / 10.0
          val u = Array.tabulate(unit.length)(j => noise(nid, j))
          val un = math.sqrt(u.map(x => x * x).sum)
          (nid, Array.tabulate(unit.length)(j =>
            (unit(j) + delta * u(j) / un).toFloat))
        }
      }
    }.toDF("vec_id", "embedding").cache()
    val n = scaled.count()
    val (bits, tables) = graft.ops.Similarity.lshSizing(n)
    println(s"[lsh-recall] tier n=$n sizing=($bits bits, $tables tables)")

    // exact within-clique truth (clique = same original id)
    val truth = scaled.select((col("vec_id") / factor).cast("long").as("orig"),
        col("vec_id"), col("embedding"))
      .as[(Long, Long, Array[Float])]
      .groupByKey(_._1)
      .flatMapGroups { (_, it) =>
        val vs = it.map(r => (r._2, r._3.map(_.toDouble))).toArray.sortBy(_._1)
        for {
          i <- vs.indices.iterator
          j <- (i + 1) until vs.length
          c = {
            var dot = 0.0; var na = 0.0; var nb = 0.0
            var d = 0
            val a = vs(i)._2; val b = vs(j)._2
            while (d < a.length) { dot += a(d) * b(d); na += a(d) * a(d); nb += b(d) * b(d); d += 1 }
            dot / (math.sqrt(na) * math.sqrt(nb))
          }
          if c >= threshold
        } yield (vs(i)._1, vs(j)._1)
      }.toDF("id_a", "id_b").cache()
    val nTruth = truth.count()

    val t0 = System.nanoTime()
    val found = graft.ops.Similarity
      .lshNearDupPairsAuto(scaled, threshold = threshold, knownCount = Some(n))
      .cache()
    val nFound = found.count()
    val mineSec = (System.nanoTime() - t0) / 1e9
    val hit = found.join(truth, Seq("id_a", "id_b")).count()
    println(f"[lsh-recall] factor=$factor n=$n truth_pairs=$nTruth found=$nFound " +
      f"clique_hits=$hit recall=${hit.toDouble / nTruth}%.4f mine_sec=$mineSec%.1f " +
      f"cross_clique_extra=${nFound - hit}")
    spark.stop()
  }
}
