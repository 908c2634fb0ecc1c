package graft.tools

import graft.util.LocalSpark
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Stage-isolation benchmark (guide §1.4): times pipeline STAGES of the
  * suite's most expensive remaining queries through the noop sink, so
  * each number is the computation (every column of every row) without
  * the result sort or driver transfer. Separate from the FROZEN
  * graft.Bench — these numbers inform OPTIMIZATION_r06.md attribution
  * claims and never feed the driver contract.
  *
  *   SPARK_GRAFT_SF_DIR=... SPARK_GRAFT_CPUS=32 \
  *     sbt "runMain graft.tools.BenchExtra [reps=3]"
  */
object BenchExtra {

  private def session(cpus: Int): SparkSession = {
    val s = LocalSpark.builder(cpus, "graft-bench-extra")
      .config("spark.sql.files.maxPartitionBytes", (4 * 1024 * 1024).toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def time(f: => Unit): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val reps = if (args.length > 0) args(0).toInt else 3
    val s = session(cpus)
    import graft.ops.{Dedup, TextAnalysis}

    def docs = s.read.parquet(s"$sfDir/documents.parquet")

    // named stages; each runs `reps` times interleaved, min reported
    val stages: Seq[(String, () => Unit)] = Seq(
      // ---- dedup_substring decomposition ----
      "substr/1_winnow_kernel" -> (() => noop(
        {
          import s.implicits._
          docs.select(col("doc_id").cast("long"), col("text"))
            .as[(Long, String)]
            .mapPartitions(_.flatMap { case (id, t) =>
              TextAnalysis.winnow(t).iterator.zipWithIndex
                .map { case (fp, i) => (id, i, fp) }
            }).toDF("doc_id", "fp_index", "fp")
        })),
      "substr/2_match_table" -> (() => noop(
        Dedup.substringMatchTable(docs, maxDocFreq = 64))),
      "substr/3_full_pairs" -> (() => noop(
        Dedup.substringDupPairs(docs))),
      // ---- contamination decomposition ----
      "contam/full" -> (() => noop(
        Dedup.contaminationCheck(
          docs.where(col("doc_id") % 29 =!= 3),
          docs.where(col("doc_id") % 29 === 3),
          minShared = 2, maxDocFreq = 64))),
      // ---- dedup_cc decomposition ----
      "cc/1_minhash_pairs" -> (() => noop(
        Dedup.minhashLshPairs(docs.where(col("doc_id") < 2000),
          threshold = 0.8, numHashes = 64, bands = 32, shingleSize = 3))),
      "cc/2_full_components" -> (() => noop(
        Dedup.connectedComponents(
          Dedup.minhashLshPairs(docs.where(col("doc_id") < 2000),
            threshold = 0.8, numHashes = 64, bands = 32, shingleSize = 3)))),
      // ---- stream_ingest phase split (not noop-able: stateful stream;
      //      phases timed directly) ----
      "ingest/full_loop" -> (() => {
        graft.streaming.StreamingOps
          .streamIncrementalDedup(s, s"$sfDir/documents.parquet", nBatches = 4)
          .count(); ()
      }),
      "ingest/seed_index_only" -> (() => noop(
        Dedup.lshBandIndex(
          docs.where(col("doc_id") < 2000)
            .where(pmod(col("doc_id"), lit(5)) =!= 0)
            .select(col("doc_id"), col("text")),
          numHashes = 64, bands = 32, shingleSize = 3))),
      // ---- BPE vocab-dimension scaling (VERDICT r05 next #2 "done"
      //      criterion: 1,024 merges < 5x the 48-merge wall; the
      //      per-round distributed design measured ~21x by round count) ----
      "bpe/48_merges" -> (() => {
        graft.text.Bpe.trainDistributed(
          docs.select(col("doc_id"), col("text")), numMerges = 48); ()
      }),
      "bpe/1024_merges" -> (() => {
        // minPairFreq=1 so nothing stops early but exhaustion: this
        // corpus's FULL merge point is 126 merges (every piece
        // collapses to one symbol — the bounded synthetic vocabulary),
        // printed for transparency. The row's point: the COMPLETE
        // merge schedule costs ~the one corpus pass, where the
        // per-round design paid ~115 ms of driver coordination per
        // merge (48 merges = 5.5-7.1 s in r05 benches).
        val m = graft.text.Bpe.trainDistributed(
          docs.select(col("doc_id"), col("text")), numMerges = 1024,
          minPairFreq = 1)
        println(s"[bench-extra] bpe/1024_merges produced=${m.length}")
      }),
      "ingest/oneshot_equivalent" -> (() => {
        val d = docs.where(col("doc_id") < 2000).select(col("doc_id"), col("text"))
        val isNew = pmod(col("doc_id"), lit(5)) === 0
        val oldDocs = d.where(!isNew)
        noop(Dedup.incrementalNearDupPairs(
          Dedup.lshBandIndex(oldDocs, 64, 32, 3), oldDocs, d.where(isNew),
          threshold = 0.8, numHashes = 64, bands = 32, shingleSize = 3))
      })
    )

    val best = scala.collection.mutable.Map.empty[String, Double]
    for (r <- 1 to reps; (name, f) <- stages) {
      s.sparkContext.setJobDescription(s"$name rep=$r")
      val t = time(f())
      if (!best.get(name).exists(_ <= t)) best(name) = t
      println(f"[bench-extra] $name rep=$r sec=$t%.3f")
    }
    println("[bench-extra] ==== min per stage ====")
    stages.foreach { case (name, _) =>
      println(f"[bench-extra] $name min=${best(name)}%.3f")
    }
    s.stop()
  }
}
