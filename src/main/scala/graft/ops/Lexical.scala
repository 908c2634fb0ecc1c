package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Lexical (keyword) retrieval — the classic complement to the RAG
  * module's vector search: BM25-shaped scoring over an on-the-fly
  * posting aggregation, with every arithmetic step in integers so the
  * ranking is bit-reproducible across engines and partitionings.
  *
  * Scoring, deliberately integer-only:
  *  - idf weight w(t) = 64 - bitlen(df(t)) — a log2-scaled rarity
  *    weight (each doubling of document frequency costs one point),
  *    spelled as length(bin(df)) on both engines. A float
  *    ln((N-df+.5)/(df+.5)) would rank identically in spirit but Java
  *    and DuckDB libm logs differ in final ulps, which flips
  *    tie-adjacent ranks and breaks the driver's hash compare.
  *  - tf saturation min(tf, satCap) — BM25's diminishing returns for
  *    repeated terms, the k1-saturation shape without the float ratio.
  *  - score(d) = Σ_t min(tf(t,d), satCap) · w(t), ties broken by
  *    doc_id — a total order.
  *
  * SCALE: the query-term set broadcasts and semi-joins the token
  * stream BEFORE any aggregation, so only tokens matching the query
  * ever shuffle (a full-corpus tf table would be the inverted index —
  * this operator is the query-time path that avoids materializing
  * it); tf partial-aggregates map-side and the final ranking is one
  * TakeOrdered (per-partition heaps, no global sort).
  */
object Lexical {

  /** Top-k documents for a bag of query terms.
    *
    * @param docs       (doc_id, text)
    * @param queryTerms one column `tok` — the query bag (deduplicated
    *                   here; expected tiny, it broadcasts)
    * @param k          result size
    * @param satCap     tf saturation cap (BM25 k1-shape)
    * @return (doc_id, score) — the k highest integer scores,
    *         score desc then doc_id asc
    */
  def lexicalTopK(docs: DataFrame, queryTerms: DataFrame, k: Int,
      satCap: Int = 3): DataFrame = {
    val hits = TextAnalysis.wordTokens(docs, col("doc_id")).join(
      broadcast(queryTerms.select(col("tok")).distinct()), "tok")
    val tf = hits.groupBy(col("doc_id"), col("tok"))
      .agg(count(lit(1)).as("tf"))
    // tf rows are distinct (doc, tok), so counting them per tok IS the
    // document frequency — no second corpus pass
    val dfreq = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    scoreTopK(tf, dfreq, k, satCap)
  }

  /** The scoring half of [[lexicalTopK]], for callers that already hold
    * the term statistics: tf = (doc_id, tok, tf), dfreq = (tok, df) of
    * the query terms (tiny, it broadcasts) → (doc_id, score), the k
    * highest Σ_t min(tf, satCap) · (64 − bitlen(df)), then doc_id asc.
    */
  def scoreTopK(tf: DataFrame, dfreq: DataFrame, k: Int,
      satCap: Int = 3): DataFrame = {
    require(k >= 1 && satCap >= 1, s"k=$k, satCap=$satCap must be >= 1")
    tf.join(broadcast(dfreq), "tok")
      .select(col("doc_id"),
        (least(col("tf"), lit(satCap.toLong)) *
          (lit(64) - length(bin(col("df"))))).as("contrib"))
      .groupBy(col("doc_id")).agg(sum(col("contrib")).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
  }

  /** Inverted-index CONSTRUCTION — the build-path complement of
    * [[lexicalTopK]] (which is the query-time path that avoids
    * materializing this). Classic sort-based indexing (the original
    * MapReduce use case): (tok, doc) postings shuffle on tok, sort by
    * doc_id inside each term, and serialize as BLOCKED delta-encoded
    * runs:
    *
    *  - one output row per (tok, block) of ≤ `blockSize` postings —
    *    a term's list is never one unbounded row/task output, and a
    *    block is independently decodable (its first entry is an
    *    absolute doc_id, the rest are gaps), the block-max /
    *    skip-pointer layout real engines use;
    *  - `postings` = "delta:tf,delta:tf,…" — gaps over ascending
    *    doc_id, the standard compression-friendly form;
    *  - terms with df > `dfCap` are STOP-WORDED: one block_id = -1
    *    summary row with null postings. At web scale a stopword's list
    *    is ~the whole corpus; emitting it serializes one reducer on
    *    ~10^12 entries, and every real indexer caps or elides such
    *    terms (searchers treat them as match-all).
    *
    * Exchanges: ONE hash exchange on tok (the window); the downstream
    * (tok, block) aggregation reuses it (hash(tok) co-locates every
    * (tok, block) group). The per-block string assembly walks arrays of
    * ≤ blockSize elements.
    */
  def invertedIndex(docs: DataFrame, blockSize: Int = 128,
      dfCap: Long = 100000): DataFrame = {
    require(blockSize >= 1 && dfCap >= 1, s"blockSize=$blockSize dfCap=$dfCap")
    val tf = TextAnalysis.wordTokens(docs, col("doc_id"))
      .groupBy(col("tok"), col("doc_id")).agg(count(lit(1)).as("tf"))
    // df via an agg + equi-join, NOT a count-over-window: the window
    // would sort EVERY term's postings — including the stopworded hot
    // terms, which are precisely the lists whose single-partition sort
    // is the skew bottleneck at corpus scale. This way df>cap terms
    // are decided from the (tok, df) aggregate alone and never reach
    // the sort.
    val dfs = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val byDoc = Window.partitionBy(col("tok")).orderBy(col("doc_id"))
    val entries = tf.join(dfs, "tok").where(col("df") <= dfCap)
      .withColumn("rn", row_number().over(byDoc))
      .withColumn("prev", lag(col("doc_id"), 1).over(byDoc))
    val blocks = entries
      .withColumn("block_id",
        ((col("rn") - 1).cast("long") / lit(blockSize.toLong)).cast("long"))
      .withColumn("delta",
        when(pmod(col("rn") - 1, lit(blockSize)) === 0, col("doc_id"))
          .otherwise(col("doc_id") - col("prev")))
      .withColumn("entry", concat(col("delta").cast("string"), lit(":"),
        col("tf").cast("string")))
      .groupBy(col("tok"), col("df"), col("block_id"))
      .agg(count(lit(1)).as("block_n"),
        array_join(
          transform(array_sort(collect_list(struct(col("rn"), col("entry")))),
            x => x.getField("entry")), ",").as("postings"))
    val stopworded = dfs.where(col("df") > dfCap)
      .select(col("tok"), col("df"), lit(-1L).as("block_id"),
        col("df").as("block_n"), lit(null).cast("string").as("postings"))
    blocks.select(col("tok"), col("df"), col("block_id"), col("block_n"),
        col("postings"))
      .unionByName(stopworded)
  }
}
