package perfbench

import graft.extract.CascadeConfig
import graft.jobs.RagJobs
import graft.rag.{DeterministicHashEmbedder, Rag}
import graft.table.{IcebergLite, SyntheticPages}
import org.apache.spark.sql.{DataFrame, Row}
import scala.collection.mutable

/** rag_serve: reads beside writes on one IcebergLite table. Phase A
  * builds the index (`RagJobs.buildAndWrite`: buildIndex, then a
  * commit); phase B is a closed loop with one client in which about one
  * operation in 20 upserts a fresh chunk batch as a new table version and
  * the rest are `RagJobs.query` calls against the latest committed version.
  */
object RagServeWorkload {
  /** At 2,000 pages (about 48k chunks) a query's index scan and its
    * fixed Spark-job cost are about even: against a one-page index the
    * same queries take half as long (METRICS.md, "rag_serve sizing").
    */
  val Pages = 2000
  val FreshPagesPerUpsert = 2
  val UpsertEvery = 20
  val Builds = 5
  val Ks = Seq(5, 10, 50)
  val CheckedQueries = 4
  val Dim = 384

  /** A query kept for the brute-force check: what it asked, which
    * snapshot it read, and what it answered.
    */
  final case class Asked(text: String, k: Int, snapshot: Int, answer: String)

  def run(c: Ctx): Unit = {
    val spark = c.spark
    val r = c.result
    import spark.implicits._
    val pagesPath = s"${c.work}/rag/pages"
    val setup = c.phase("setup")(c.medianSeconds(3) {
      Inputs.pagesDF(spark, c.seed, Pages, c.cores)
        .write.mode("overwrite").parquet(pagesPath)
    })
    val pages = spark.read.parquet(pagesPath)
    val vocab = (0L until 200L).flatMap(id => Option(SyntheticPages.pageFor(c.seed, id).text))
      .flatMap(_.toLowerCase.split("[^a-z]+")).filter(_.nonEmpty).distinct.sorted.toVector
    val rng = new SyntheticPages.Rng(c.seed)
    // upserts add article pages past the staged ids, so every batch is fresh
    val freshIds = Iterator.iterate(Inputs.ids(c.seed, Pages).last + 1)(_ + 1)
      .filter(SyntheticPages.familyOf(c.seed, _) == "article")
    def freshBatch(): DataFrame = {
      val ps = freshIds.take(FreshPagesPerUpsert).map(SyntheticPages.pageFor(c.seed, _)).toSeq
      RagJobs.buildIndex(spark.createDataset(ps).toDF()).toDF()
    }

    def latest(out: IcebergLite): DataFrame =
      c.tracer.span("IcebergLite.read")(out.read(spark).drop("unit"))
    def query(out: IcebergLite, text: String, k: Int): String =
      c.tracer.span("RagJobs.query")(RagJobs.query(latest(out), text, k))
    def upsert(out: IcebergLite): Unit = {
      val merged = c.tracer.span("Rag.upsertDocuments")(Rag.upsertDocuments(latest(out), freshBatch(), Dim))
      c.tracer.span("IcebergLite.writeData")(out.writeData(merged, 0))
      c.tracer.span("IcebergLite.publish")(out.publish(spark, 0))
    }
    def nextQuery(): (String, Int) =
      ((0 until 3 + rng.nextInt(6)).map(_ => vocab(rng.nextInt(vocab.length))).mkString(" "),
        Ks(rng.nextInt(Ks.length)))

    /** Phase B: one operation, which records its latency in `qs`,
      * `tracedQs` or `us`.
      */
    val asked = mutable.ArrayBuffer.empty[Asked]
    val qs, us, tracedQs = mutable.ArrayBuffer.empty[Double]
    val tracedIsQuery = mutable.ArrayBuffer.empty[Boolean]
    def serveOp(out: IcebergLite, i: Int, traced: Boolean): Unit =
      if (i % UpsertEvery == UpsertEvery - 1) {
        val s = System.nanoTime()
        r.op("upsert")(c.tracer.span("upsert")(upsert(out)))
        us += (System.nanoTime() - s) / 1e9
        if (traced) tracedIsQuery += false
      } else {
        val (text, k) = nextQuery()
        val snapshot = if (i % 10 == 0) out.snapshots(spark).last else -1
        val s = System.nanoTime()
        r.op("query")(c.tracer.span("query")(query(out, text, k))).foreach { a =>
          (if (traced) tracedQs else qs) += (System.nanoTime() - s) / 1e9
          if (snapshot >= 0) asked += Asked(text, k, snapshot, a)
        }
        if (traced) tracedIsQuery += true
      }

    // Phase A: builds, each into a table of its own; the first warms the
    // JIT and is left out of the median, the last is served
    val builds = c.phase("build")((1 to Builds).map { b =>
      val out = new IcebergLite(s"${c.work}/rag/index-$b")
      val t0 = System.nanoTime()
      r.summary("index_rows") = c.tracer.span("RagJobs.buildAndWrite")(RagJobs.buildAndWrite(pages, out))
      (out, (System.nanoTime() - t0) / 1e9)
    })
    val buildS = Stats.median(builds.tail.map(_._2))
    val out = builds.last._1
    c.phase("warmup") {
      val warm = builds.head._1
      (0 until 3).foreach { i => if (i == 1) upsert(warm) else query(warm, nextQuery()._1, 10) }
    }

    if (!c.traced) {
      val wall = c.phase("measure")(c.loop(c.seconds)(i => serveOp(out, i, traced = false))).sum
      r.metric("setup_s", setup)
      r.metric("batch_s", buildS)
      r.metric("items_per_s", (qs.length + us.length) / wall)
      r.metric("op_p50_ms", Stats.quantile(qs.toSeq, 0.5) * 1e3)
      r.metric("op_p90_ms", Stats.quantile(qs.toSeq, 0.9) * 1e3)
      r.summary("queries") = qs.length
      r.summary("upserts") = us.length
      r.summary("named") = Map("rag_build_s" -> "batch_s", "rag_ops_per_s" -> "items_per_s",
        "rag_query_p50_ms" -> "op_p50_ms", "rag_query_p90_ms" -> "op_p90_ms")
    } else {
      var i = 0
      c.phase("measure")(c.tracer.span("serve")(c.alternate(c.seconds) { on => serveOp(out, i, on); i += 1 }))
      c.recordSparkMetrics()
      r.metric("trace.overhead_share", Stats.median(tracedQs.toSeq) / Stats.median(qs.toSeq) - 1.0)
      val spans = c.tracer.all
      def total(name: String) = spans.filter(_.name == name).map(_.seconds).sum
      r.metric("rag.search_s", Stats.median(c.tracer.selfSecondsOf("RagJobs.query")))
      r.metric("rag.upsert_s", if (us.isEmpty) 0.0 else Stats.median(us.toSeq))
      val queryExecS = c.windows.zip(tracedIsQuery).collect { case (w, true) => c.counters.execRunSeconds(w) }.sum
      r.metric("rag.query_exec_share", queryExecS / tracedQs.sum)
      r.metric("table.read_s", total("IcebergLite.read"))
      r.metric("table.write_data_s", total("IcebergLite.writeData"))
      r.metric("table.publish_s", total("IcebergLite.publish"))
      r.metric("table.versions", out.snapshots(spark).length.toDouble)
      val manifest = out.manifest(spark).first()
      r.metric("table.bytes_per_doc", manifest.getAs[String]("bytes").toDouble / out.read(spark).count())
      // the index scan's share of a query: the same queries against a
      // one-page index pay only the fixed cost of the query's Spark job
      val onePage = new IcebergLite(s"${c.work}/rag/one-page")
      RagJobs.buildAndWrite(spark.createDataset(freshIds.take(1).map(SyntheticPages.pageFor(c.seed, _)).toSeq).toDF(), onePage)
      def queryS(t: IcebergLite, text: String, k: Int): Double = {
        val s = System.nanoTime()
        RagJobs.query(t.read(spark).drop("unit"), text, k)
        (System.nanoTime() - s) / 1e9
      }
      val (full, small) = (1 to 8).map { _ => val (text, k) = nextQuery(); (queryS(out, text, k), queryS(onePage, text, k)) }.unzip
      r.metric("rag.scan_share", 1.0 - Stats.median(small) / Stats.median(full))
      KernelReplay.run(c, Inputs.pages(c.seed, Pages), CascadeConfig())
    }
    c.phase("checks")(checks(c, out, asked.toSeq))
  }

  /** Each checked query's answer equals a brute-force cosine top-k over
    * the snapshot it read, collected to the Spark driver.
    */
  private def checks(c: Ctx, out: IcebergLite, asked: Seq[Asked]): Unit = {
    val spark = c.spark
    val embedder = new DeterministicHashEmbedder()
    val checked = (asked.take(CheckedQueries / 2) ++ asked.takeRight(CheckedQueries / 2)).distinct
    val snapshots = mutable.Map.empty[Int, Array[(String, String, Array[Float])]]
    c.result.check(s"${checked.length} sampled queries match a brute-force top-k")(checked.nonEmpty && checked.forall { a =>
      val rows = snapshots.getOrElseUpdate(a.snapshot,
        out.readAt(spark, a.snapshot).select("id", "content", "embedding").collect()
          .map((row: Row) => (row.getString(0), row.getString(1), row.getSeq[Float](2).toArray)))
      val q = embedder.embedBatch(Seq(a.text)).head
      val top = rows.map { case (id, content, e) => (id, content, cosine(e, q)) }
        .filter(_._3 >= 0.0)
        .sortBy { case (id, _, s) => (-s, id) }
        .take(a.k)
      Rag.formatResults(top.map { case (_, content, s) => (content, s) }.toSeq) == a.answer
    })
  }

  /** graft.functions.CosineSimilarity's arithmetic, in the same order. */
  private def cosine(x: Array[Float], y: Array[Float]): Double = {
    var dot, nx, ny = 0.0
    var i = 0
    while (i < x.length) {
      val a = x(i).toDouble
      val b = y(i).toDouble
      dot += a * b; nx += a * a; ny += b * b
      i += 1
    }
    val denom = math.sqrt(nx) * math.sqrt(ny)
    if (denom == 0.0) 0.0 else dot / denom
  }
}
