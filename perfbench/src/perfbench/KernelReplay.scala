package perfbench

import graft.extract.{CascadeConfig, CascadeExtractor, DomStats, Extractors, PageCodec}
import graft.html.HtmlParser
import graft.rag.DeterministicHashEmbedder
import graft.table.Page
import graft.text.{ChunkConfig, Chunker, PyText}

/** Single-thread replay of a workload's pages through the public kernel
  * entry points, giving the self time of each kernel layer: decode,
  * parse, DOM stats, the three strategies, the whole cascade, chunking
  * and embedding.
  */
object KernelReplay {
  val SampleSize = 2000

  private final class Clock {
    var ns = 0L
    def apply[A](f: => A): A = {
      val t0 = System.nanoTime()
      try f finally ns += System.nanoTime() - t0
    }
    def seconds: Double = ns / 1e9
  }

  def run(c: Ctx, pages: Seq[Page], cascade: CascadeConfig): Unit =
    c.tracer.span("kernel_replay") {
      pass(pages, cascade) // JIT warm-up of the single-thread path
      pass(pages, cascade).foreach { case (k, v) => c.result.metric(k, v) }
    }

  private def pass(pages: Seq[Page], cascade: CascadeConfig): Map[String, Double] = {
    val decode, parse, stats, newspaper, readability, http, full, chunk, embed = new Clock
    val parser = new HtmlParser
    val st = new DomStats
    var nodes = 0L
    var parsed = 0
    pages.foreach { p =>
      if (p.html != null && p.html.nonEmpty) {
        val text = decode(PageCodec.decode(p.html))
        if (PyText.strip(text).nonEmpty) {
          val dom = parse(parser.parse(text))
          nodes += dom.size
          parsed += 1
          stats(st.compute(dom))
          // each strategy starts from freshly computed stats, as in the cascade
          try newspaper(Extractors.newspaperLike(dom, st)) catch { case _: Exception => }
          st.compute(dom)
          try readability(Extractors.readability(dom, st)) catch { case _: Exception => }
          st.compute(dom)
          try http(Extractors.bs4Strip(dom, st)) catch { case _: Exception => }
          parser.release()
        }
      }
    }
    val ex = new CascadeExtractor
    val results = full(pages.map(p => ex.extract(p.url, p.html, cascade)))
    // strategies run per page, read from the cascade's own output: a
    // winner at position i ran i + 1 strategies, a partial or failed
    // parsed page ran all of them, an empty page none
    val n = cascade.strategies.length
    val runs = results.map { r =>
      if (r.succeeded && !r.partial) cascade.strategies.indexOf(r.strategy_used) + 1
      else if (r.succeeded || !(r.failure_reason == "no_html_or_url" || r.failure_reason == "oversized")) n
      else 0
    }
    val texts = results.filter(_.succeeded).map(_.extracted_text)
    val chunks = chunk(texts.map(t => Chunker.chunkWithMeta(t, ChunkConfig())))
    val embedder = new DeterministicHashEmbedder()
    embed(chunks.flatten.map(_.text).grouped(100).foreach(b => embedder.embedBatch(b)))
    Map(
      "extract.decode_s" -> decode.seconds,
      "html.parse_s" -> parse.seconds,
      "html.nodes_per_doc" -> nodes.toDouble / math.max(1, parsed),
      "extract.stats_s" -> stats.seconds,
      "extract.newspaper_s" -> newspaper.seconds,
      "extract.readability_s" -> readability.seconds,
      "extract.http_s" -> http.seconds,
      "extract.kernel_docs_per_s" -> pages.length / full.seconds,
      "extract.runs_per_doc" -> runs.sum.toDouble / pages.length,
      "extract.partial_share" -> results.count(_.partial).toDouble / pages.length,
      "text.chunk_s" -> chunk.seconds,
      "text.chunks_per_doc" -> chunks.map(_.length).sum.toDouble / math.max(1, texts.length),
      "rag.embed_s" -> embed.seconds)
  }
}
