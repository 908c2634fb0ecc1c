package graft.jobs

import graft.extract.{CascadeConfig, Extract}
import graft.table.{IcebergLite, SyntheticPages}
import graft.util.LocalSpark
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Job shaping knobs for the extraction pipeline at scale. */
final case class ExtractJobConfig(
    nUnits: Int = 8,
    partitionsPerUnit: Int = 32,
    bigHtmlBytes: Long = 256L * 1024,
    groupByHost: Boolean = false,
    hostBudget: Long = 10000,
    saltBuckets: Int = 16,
    cascade: CascadeConfig = CascadeConfig())

/** The north-rule extraction job (BASELINE.json): pages → cascade →
  * IcebergLite table, with the 10^12-document mechanics made explicit:
  *
  *  - **Units = resume granularity.** The input is processed as nUnits
  *    independent slices; each completed unit is committed to the
  *    manifest atomically. A killed job re-runs only uncommitted units
  *    and never re-reads committed input (each unit reads only its own
  *    input slice — no full rescan per unit). At 10^12 docs a unit is a
  *    group of Iceberg data files sized to minutes of cluster work.
  *  - **Partitioning by url-hash.** Within a unit, rows are spread by
  *    `xxhash64(url)`; in host-grouped (politeness) mode, hosts whose
  *    row count exceeds `hostBudget` are salted with
  *    `xxhash64(url) % saltBuckets` so one hot host cannot pin a
  *    partition (AQE covers shuffle skew, not map-side compute skew —
  *    SURVEY.md §4.1).
  *  - **Size buckets.** Oversized html blobs (>= bigHtmlBytes) are
  *    split off and round-robin rebalanced so a 100MB page cannot
  *    straggle a partition of 4KB pages; outputs are unioned.
  *  - **Lineage.** Every output row carries its task partition id; the
  *    manifest row carries per-unit row/byte counts and the
  *    strategy/failure histogram.
  */
object ExtractJob {

  /** Shape one unit's pages and run the cascade. The optional histogram
    * accumulator is threaded into the cascade kernel itself so strategy
    * counts are collected during the caller's action with zero extra
    * row-codec passes.
    */
  def processUnit(pages: DataFrame, cfg: ExtractJobConfig,
      hist: Option[graft.util.MapAccumulator] = None): DataFrame = {
    // null html must remain a ROW (the cascade's fetch-failure reason
    // row — errors as data): a bare length() is NULL for it, and a NULL
    // predicate fails BOTH size buckets, silently dropping the page
    val withLen = pages
      .select(col("url"), col("html"))
      .withColumn("html_len", coalesce(length(col("html")), lit(0)))

    val small = withLen.where(col("html_len") < cfg.bigHtmlBytes)
    val big = withLen.where(col("html_len") >= cfg.bigHtmlBytes)

    val smallSpread =
      if (cfg.groupByHost) {
        // skew pre-pass: hosts over budget get a per-url salt. The hot
        // set is hash-aggregated (tiny: only over-budget hosts survive)
        // and applied via broadcast left join — no driver collect, so
        // the same plan holds when the hot set itself is large
        val host = parse_url(col("url"), lit("HOST"))
        val hotHosts = withLen.select(host.as("hot_host"))
          .groupBy("hot_host").count()
          .where(col("count") > cfg.hostBudget)
          .select(col("hot_host"), lit(true).as("is_hot"))
        val key = when(col("is_hot"),
            concat(col("page_host"), lit("#"),
              pmod(xxhash64(col("url")), lit(cfg.saltBuckets))))
          .otherwise(col("page_host"))
        small.withColumn("page_host", host)
          .join(broadcast(hotHosts), col("page_host") === col("hot_host"), "left")
          .repartition(cfg.partitionsPerUnit, key)
          .drop("page_host", "hot_host", "is_hot")
      } else
        small.repartition(cfg.partitionsPerUnit, xxhash64(col("url")))

    // round-robin spreads the huge blobs evenly without needing stats.
    // Full unit width, NOT a narrowed pool: separating blobs from the
    // 4KB pages is what prevents stragglers; once separated, the blob
    // stage is uniform-expensive rows and deserves every core — a
    // max(2, width/4) pool here measured as an Amdahl cap (oversized
    // bodies are ~half the corpus BYTES at 0.5% of rows, and a fixed
    // 2-partition stage froze 2->8-thread scaling at 0.63, SkewBench)
    val bigSpread = big.repartition(cfg.partitionsPerUnit)

    val extracted = Extract.extractPages(smallSpread, cfg.cascade, hist).toDF()
      .unionByName(Extract.extractPages(bigSpread, cfg.cascade, hist).toDF())
    extracted.withColumn("task_partition", spark_partition_id())
  }

  /** Run all uncommitted units; returns the units processed this run.
    * `failAfterUnits` is a test hook for kill-and-rerun resume proofs.
    */
  def runUnits(
      spark: SparkSession,
      unitPages: Int => DataFrame,
      out: IcebergLite,
      cfg: ExtractJobConfig,
      failAfterUnits: Int = Int.MaxValue): Seq[Int] = {
    val done = out.committedUnits(spark).toSet
    val processed = scala.collection.mutable.ArrayBuffer.empty[Int]
    var u = 0
    while (u < cfg.nUnits) {
      if (!done.contains(u)) {
        if (processed.length >= failAfterUnits)
          throw new RuntimeException(s"injected failure before unit $u")
        // strategy histogram via accumulator: counted inside the cascade
        // kernel during the write action itself — no second pass over
        // the written files and no row-codec detour on the hot path
        val hist = new graft.util.MapAccumulator
        spark.sparkContext.register(hist, s"strategy-histogram-unit-$u")
        val extracted = processUnit(unitPages(u), cfg, Some(hist))
        out.writeData(extracted, u)
        val h = hist.value
        val rows = h.values.sum
        val metrics = Map("rows" -> rows.toString) ++
          h.map { case (k, v) => s"strategy_$k" -> v.toString }
        out.publish(spark, u, metrics)
        processed += u
      }
      u += 1
    }
    processed.toSeq
  }

  /** spark-submit main: synthetic-pages source.
    * args: outPath [nPages=20000] [nUnits=8] [cpus from SPARK_GRAFT_CPUS]
    */
  def main(args: Array[String]): Unit = {
    val outPath = args(0)
    val nPages = if (args.length > 1) args(1).toLong else 20000L
    val nUnits = if (args.length > 2) args(2).toInt else 8
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = LocalSpark.builder(cpus, "graft-extract").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val cfg = ExtractJobConfig(nUnits = nUnits, partitionsPerUnit = cpus)
    val out = new IcebergLite(outPath)
    val perUnit = (nPages + nUnits - 1) / nUnits
    def unitPages(u: Int): DataFrame = {
      val lo = u * perUnit
      val hi = math.min(nPages, (u + 1) * perUnit)
      import spark.implicits._
      spark.range(lo, hi, 1, cfg.partitionsPerUnit)
        .mapPartitions(_.map(id => SyntheticPages.pageFor(42L, id))).toDF()
    }
    val t0 = System.nanoTime()
    val ran = runUnits(spark, unitPages, out, cfg)
    val sec = (System.nanoTime() - t0) / 1e9
    val total = out.read(spark).count()
    println(f"extract-job: units_run=${ran.size} total_rows=$total " +
      f"wall=$sec%.2fs docs_per_sec=${total / sec}%.1f")
    spark.stop()
  }
}
