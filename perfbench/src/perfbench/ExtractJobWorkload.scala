package perfbench

import graft.extract.{CascadeExtractor, Extracted}
import graft.jobs.{ExtractJob, ExtractJobConfig}
import graft.table.{IcebergLite, SyntheticPages}
import graft.util.ScragConfig
import java.nio.charset.StandardCharsets
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import scala.collection.mutable.ArrayBuffer

/** extract_job: the north-star path shaped as `Cli extract` shapes it —
  * seeded pages staged hive-partitioned by unit, then
  * `ExtractJob.runUnits` with the CLI's default config into a fresh
  * IcebergLite table per job.
  */
object ExtractJobWorkload {
  val Pages = 4000
  val Units = 8 // Cli extract's default --units
  val CheckedRows = 64

  /** One job: its table and the (start, end) epoch-ns interval of each unit. */
  final case class Job(out: IcebergLite, units: Seq[(Long, Long)]) {
    def seconds: Double = (units.last._2 - units.head._1) / 1e9
  }

  def run(c: Ctx): Unit = {
    val spark = c.spark
    val r = c.result
    val cfg = ExtractJobConfig(nUnits = Units, partitionsPerUnit = c.cores,
      cascade = ScragConfig.cascadeConfig(ScragConfig.resolve()))
    val staged = s"${c.work}/extract/staged"
    val setup = c.phase("setup")(c.medianSeconds(3) {
      Inputs.pagesDF(spark, c.seed, Pages, c.cores)
        .withColumn("unit", pmod(xxhash64(col("url")), lit(Units)).cast("int"))
        .write.mode("overwrite").partitionBy("unit").parquet(staged)
    })
    val schema = spark.read.parquet(staged).drop("unit").schema
    def unitPages(u: Int): DataFrame = {
      val p = s"$staged/unit=$u"
      if (new java.io.File(p).isDirectory) spark.read.parquet(p)
      else spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    }

    var jobs = 0
    var last: Option[Job] = None
    def job(): Job = c.tracer.span("ExtractJob.runUnits") {
      jobs += 1
      val out = new IcebergLite(s"${c.work}/extract/table-$jobs")
      val starts = ArrayBuffer.empty[Long]
      ExtractJob.runUnits(spark, u => { starts += c.tracer.nowNs; unitPages(u) }, out, cfg)
      val j = Job(out, starts.toSeq.zip(starts.toSeq.drop(1) :+ c.tracer.nowNs))
      last.foreach(_.out.drop(spark))
      last = Some(j)
      j
    }

    // JIT warm-up: the job's own plan over its first two units
    c.phase("warmup")(
      ExtractJob.runUnits(spark, unitPages, new IcebergLite(s"${c.work}/extract/warm"), cfg.copy(nUnits = 2)))

    if (!c.traced) {
      val done = ArrayBuffer.empty[Job]
      // two jobs at least, so batch_s is not one sample
      c.phase("measure")(c.loop(c.seconds, minOps = 2)(_ => r.op("job")(job()).foreach(done += _)))
      val js = done.toSeq
      val unitMs = js.flatMap(_.units.map { case (a, b) => (b - a) / 1e6 })
      r.metric("setup_s", setup)
      // items_per_s is Pages / batch_s: the same measurement in the
      // north-star unit, not a second one
      r.metric("batch_s", Stats.median(js.map(_.seconds)))
      r.metric("items_per_s", Pages / Stats.median(js.map(_.seconds)))
      r.metric("op_p50_ms", Stats.quantile(unitMs, 0.5))
      r.metric("op_p90_ms", Stats.quantile(unitMs, 0.9))
      r.summary("jobs") = js.length
      r.summary("named") = Map("extract_docs_per_s" -> "items_per_s")
    } else {
      val plain, traced = ArrayBuffer.empty[Job]
      c.phase("measure")(c.alternate(c.seconds) { on =>
        r.op("job")(job()).foreach(j => (if (on) traced else plain) += j)
      })
      c.windows.zip(traced).foreach { case (w, j) => unitSpans(c, j, w) }
      c.recordSparkMetrics()
      val jobS = Stats.median(traced.map(_.seconds).toSeq)
      r.metric("trace.overhead_share", jobS / Stats.median(plain.map(_.seconds).toSeq) - 1.0)
      val unitS = traced.toSeq.flatMap(_.units.map { case (a, b) => (b - a) / 1e9 })
      r.metric("jobs.unit_max_over_median", unitS.max / Stats.median(unitS))
      // processUnit alone, into a no-op sink: the job without the table layer
      val noop = (0 until Units).map { u =>
        val t0 = System.nanoTime()
        c.tracer.span("ExtractJob.processUnit")(
          ExtractJob.processUnit(unitPages(u), cfg).write.format("noop").mode("overwrite").save())
        (System.nanoTime() - t0) / 1e9
      }
      r.metric("jobs.process_unit_s", Stats.median(noop))
      val spans = c.tracer.all
      def perJob(name: String) = spans.filter(_.name == name).map(_.seconds).sum / traced.length
      r.metric("table.write_data_s", perJob("IcebergLite.writeData") - noop.sum)
      r.metric("table.publish_s", perJob("IcebergLite.publish"))
      KernelReplay.run(c, Inputs.pages(c.seed, KernelReplay.SampleSize), cfg.cascade)
      r.metric("extract.job_over_kernel",
        Pages / jobS / (c.cores * r.metrics("extract.kernel_docs_per_s")))
      resumeCheck(c, cfg, unitPages, last.get)
    }
    c.phase("checks")(checks(c, cfg, last.get))
  }

  /** Unit spans of one job, under its runUnits span, with the write (the
    * unit's SQL executions, timed in milliseconds by Spark) and the
    * publish (the rest of the unit after the write) as children.
    */
  private def unitSpans(c: Ctx, j: Job, w: Counters.Window): Unit = {
    val execs = c.counters.sqlIn(w)
    val jobSpan = c.tracer.all.find(s => s.name == "ExtractJob.runUnits" &&
      s.startNs <= j.units.head._1 && s.endNs >= j.units.last._2).map(_.id).getOrElse(c.tracer.current)
    j.units.foreach { case (a, b) =>
      val unit = c.tracer.record("unit", a, b, jobSpan)
      val inUnit = execs.filter(e => e.startMs >= a / 1000000L && e.endMs <= b / 1000000L + 1)
      inUnit.foreach { e =>
        c.tracer.record("IcebergLite.writeData", math.max(a, e.startMs * 1000000L), math.min(b, e.endMs * 1000000L), unit)
      }
      val writeEnd = inUnit.map(e => math.min(b, e.endMs * 1000000L)).foldLeft(a)(math.max)
      c.tracer.record("IcebergLite.publish", writeEnd, b, unit)
    }
  }

  /** Kill the job at half its units, resume it, and compare with the one-shot table. */
  private def resumeCheck(c: Ctx, cfg: ExtractJobConfig, unitPages: Int => DataFrame, oneShot: Job): Unit = {
    val spark = c.spark
    val r = c.result
    val out = new IcebergLite(s"${c.work}/extract/resume")
    val threw = c.tracer.span("resume.killed") {
      try { ExtractJob.runUnits(spark, unitPages, out, cfg, failAfterUnits = Units / 2); false }
      catch { case _: RuntimeException => true }
    }
    val committed = out.committedUnits(spark).toSet
    val rerun = c.tracer.span("resume.rerun")(ExtractJob.runUnits(spark, unitPages, out, cfg))
    r.metric("table.units_reprocessed", rerun.count(committed.contains).toDouble)
    r.check("injected failure stops the job at half its units")(threw && committed.size == Units / 2)
    r.check("resume runs exactly the uncommitted units")(rerun.toSet == (0 until Units).toSet -- committed)
    val fields = classOf[Extracted].getDeclaredFields.map(_.getName)
    def canon(t: IcebergLite) = t.read(spark).select(col("unit"), to_json(struct(fields.map(col): _*)).as("row"))
    r.check("resumed table equals the one-shot table") {
      val (a, b) = (canon(out), canon(oneShot.out))
      a.count() == b.count() && a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty
    }
  }

  /** Output checks on the last job's committed table. */
  private def checks(c: Ctx, cfg: ExtractJobConfig, j: Job): Unit = {
    val spark = c.spark
    val r = c.result
    import spark.implicits._
    val table = c.tracer.span("IcebergLite.read")(j.out.read(spark).cache())
    val readS = { val t0 = System.nanoTime(); val n = table.count(); ((System.nanoTime() - t0) / 1e9, n) }
    if (c.traced) r.metric("table.read_s", readS._1)
    r.check(s"committed rows (${readS._2}) equal staged pages ($Pages)")(readS._2 == Pages)

    val manifest = j.out.manifest(spark)
    val fromManifest = manifest.collect().flatMap { m =>
      manifest.columns.filter(_.startsWith("strategy_")).flatMap { f =>
        Option(m.getAs[String](f)).map(v => (m.getAs[String]("unit").toInt, f.stripPrefix("strategy_")) -> v.toLong)
      }
    }.toMap
    val fromRows = table.groupBy(col("unit"), coalesce(col("strategy_used"), lit("FAILED")))
      .count().as[(Int, String, Long)].collect().map { case (u, s, n) => (u, s) -> n }.toMap
    r.check("manifest strategy histograms equal the unit counts")(fromManifest == fromRows)
    if (c.traced) {
      r.metric("table.versions", j.out.snapshots(spark).length.toDouble)
      r.metric("table.bytes_per_doc",
        manifest.select(sum(col("bytes").cast("long"))).first().getLong(0).toDouble / readS._2)
    }

    val rng = new SyntheticPages.Rng(c.seed ^ 0xc0ffeeL)
    val staged = Inputs.ids(c.seed, Pages)
    val pages = Seq.fill(CheckedRows)(staged(rng.nextInt(Pages))).distinct.map(SyntheticPages.pageFor(c.seed, _))
    val got = table.where(col("url").isin(pages.map(_.url): _*)).as[Extracted].collect()
      .map(e => e.url -> e).toMap
    val kernel = new CascadeExtractor
    r.check("sampled rows equal a single-thread cascade of the same page")(
      pages.forall(p => got.get(p.url).contains(kernel.extract(p.url, p.html, cfg.cascade))))

    // the frozen corpus digests are of seed-42 pages
    if (c.seed == 42L) {
      val golden = scala.io.Source.fromFile(
        s"${c.root}/src/test/resources/golden/corpus_digests.txt", "UTF-8").getLines().toVector
      val digests = table.as[Extracted].collect().flatMap { e =>
        val id = e.url.split("page-")(1).stripSuffix(".html").toLong
        if (id < golden.length) Some(id -> digestLine(id, e)) else None
      }.sortBy(_._1).map(_._2).toVector
      r.check("corpus digests equal src/test/resources/golden/corpus_digests.txt")(digests == golden)
    }
    table.unpersist()
  }

  /** GoldenGen.digestLine's format, from an extraction result. */
  def digestLine(id: Long, ex: Extracted): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val textHash =
      if (ex.extracted_text == null) "-"
      else md.digest(ex.extracted_text.getBytes(StandardCharsets.UTF_8)).map("%02x".format(_)).mkString.take(16)
    val meta = Seq(
      Option(ex.title).getOrElse("-"),
      Option(ex.author).getOrElse("-"),
      Option(ex.publish_date).map(_.toInstant.toString).getOrElse("-"),
      Option(ex.failure_reason).getOrElse("-"),
      ex.warnings.mkString(";") match { case "" => "-"; case w => w },
      ex.spans.size.toString)
    s"$id|${ex.url}|${Option(ex.strategy_used).getOrElse("-")}|${ex.succeeded}|${ex.partial}|" +
      s"${if (ex.extracted_text == null) -1 else ex.extracted_text.length}|$textHash|${meta.mkString("|")}"
  }
}
