package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data pipelines, expressed as
  * Catalyst columns (codegen'd; no UDFs in the hot path) so the same
  * logic is also expressible as the DuckDB oracle SQL in SparkEntry.
  */
object TextAnalysis {

  /** Whitespace token count. */
  def tokenCount(text: Column): Column =
    when(length(trim(text)) === 0, lit(0))
      .otherwise(size(split(trim(text), "\\s+")))
      .cast("long")

  /** BPE-ish pre-tokenizer pattern (GPT-2-style word/number/punct
    * splitting with an attached leading space), simplified to
    * engine-portable ASCII classes with no lookahead so the DuckDB
    * oracle (RE2) runs the identical pattern. The alternation's
    * character classes are disjoint, which makes Java's leftmost-FIRST
    * and RE2's leftmost-LONGEST semantics pick identical matches.
    */
  val BpeTokenPattern: String =
    " ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9 \\t\\n\\r]+|[ \\t\\n\\r]+"

  /** Token count under the BPE-ish pre-tokenizer (the budget metric a
    * training pipeline actually bills by, vs whitespace words).
    */
  def bpeTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit(BpeTokenPattern), lit(0))).cast("long")

  /** The corpus word tokenizer: lowercase, trim, split on Python-`\s`
    * whitespace, one row per word, empty words dropped — `docs.text` →
    * (keep..., tok). Lexical retrieval, inverted indexing and the NB
    * classifier all tokenize here.
    */
  def wordTokens(docs: DataFrame, keep: Column*): DataFrame =
    docs.select(keep :+
        explode(split(trim(lower(col("text"))), "[ \t\n\f\r]+")).as("tok"): _*)
      .where(col("tok") =!= "")

  /** Stopword sets per language for the n-gram language heuristic.
    * Word lists are the top function words of each language (public
    * knowledge).
    */
  val langStopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "that", "with", "for", "was"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "mit", "ein", "für", "von"),
    "fr" -> Seq("le", "la", "les", "et", "est", "pas", "pour", "que", "une", "dans"),
    "es" -> Seq("el", "la", "los", "y", "es", "no", "con", "para", "que", "una"))

  private def hitCount(text: Column, words: Seq[String]): Column =
    regexp_count(lower(text), lit(words.mkString("\\b(", "|", ")\\b")))

  /** n-gram/stopword language-ID heuristic: argmax of per-language
    * function-word hits; ties resolve in en>de>fr>es order; no hits →
    * "und" (undetermined).
    */
  def langId(text: Column): Column = {
    val langs = Seq("en", "de", "fr", "es")
    // explicit argmax with deterministic tie order (en > de > fr > es)
    val c = langs.map(l => l -> hitCount(text, langStopwords(l))).toMap
    when(c("en") > 0 && c("en") >= c("de") && c("en") >= c("fr") && c("en") >= c("es"), "en")
      .when(c("de") > 0 && c("de") >= c("fr") && c("de") >= c("es"), "de")
      .when(c("fr") > 0 && c("fr") >= c("es"), "fr")
      .when(c("es") > 0, "es")
      .otherwise("und")
  }

  /** Heuristic document quality score in [0,1]: combines length,
    * punctuation-terminated structure, stopword presence, and penalizes
    * very short docs and extreme symbol density. Deterministic and
    * SQL-expressible for the oracle.
    */
  def qualityScore(text: Column): Column = {
    val t = trim(text)
    val chars = length(t).cast("double")
    val toks = tokenCount(t).cast("double")
    val sentences = regexp_count(t, lit("[.!?]")).cast("double")
    val stop = hitCount(t, langStopwords("en")).cast("double")
    val symbols = length(regexp_replace(t, "[\\p{L}\\p{N}\\s.,!?;:'\"-]", "")).cast("double")

    val lenScore = least(chars / 500.0, lit(1.0))
    val sentScore = least(sentences / greatest(toks / 25.0, lit(1.0)), lit(1.0))
    val stopScore = least(stop * 10.0 / greatest(toks, lit(1.0)), lit(1.0))
    val symbolPenalty = least(symbols * 5.0 / greatest(chars, lit(1.0)), lit(1.0))
    // basis points via floor — cross-engine bit-stable (see Dedup)
    floor(
      greatest(lit(0.0),
        lenScore * 0.35 + sentScore * 0.25 + stopScore * 0.25 +
          (lit(1.0) - symbolPenalty) * 0.15) * 10000).cast("long")
  }

  /** Whole-document fingerprint: sha256 of the lowercased,
    * whitespace-normalized text (SQL-expressible; the rolling-hash
    * winnowing variant below is the Spark-only scale path).
    */
  def fingerprint(text: Column): Column =
    sha2(regexp_replace(lower(trim(text)), "\\s+", " "), 256)

  /** Winnowing fingerprints (Schleimer et al., public algorithm):
    * rolling k-gram hashes, minimum per window — robust local
    * fingerprints for partial-overlap detection.
    */
  def winnow(text: String, k: Int = 8, window: Int = 4): Array[Long] = {
    if (text == null || text.length < k) return Array.empty
    val n = text.length - k + 1
    val hashes = new Array[Long](n)
    var i = 0
    while (i < n) {
      var h = 1125899906842597L
      var j = 0
      while (j < k) { h = h * 31 + Character.toLowerCase(text.charAt(i + j)); j += 1 }
      h ^= h >>> 33; h *= 0xff51afd7ed558ccdL; h ^= h >>> 33
      hashes(i) = h
      i += 1
    }
    if (n <= window) return Array(hashes.min)
    val out = scala.collection.mutable.ArrayBuffer.empty[Long]
    var lastMinPos = -1
    i = 0
    while (i + window <= n) {
      var minPos = i
      var j = i + 1
      while (j < i + window) {
        if (hashes(j) <= hashes(minPos)) minPos = j
        j += 1
      }
      if (minPos != lastMinPos) { out += hashes(minPos); lastMinPos = minPos }
      i += 1
    }
    out.toArray
  }

  /** CCNet-style LM-perplexity quality filter (Wenzek et al. 2020
    * filter corpora by LM perplexity — public idea, scaled to the
    * char-bigram model this sandbox trains deterministically). The
    * committed artifact IS the model: per bigram an INTEGER millibit
    * surprise (floor(log2((N+V)/(c+1)) * 1000), add-one smoothing),
    * plus an `<OOV>` row. Nobody computes a log at query time — the
    * kernel and the SQL oracle both just sum integers, so libm ulp
    * differences cannot move a floor boundary. Score = floored mean
    * surprise per code-point bigram (DuckDB substr is code-point
    * addressed); high ppl_mb = far from the corpus distribution, the
    * filter signal. Model rows are bounded (|alphabet|²), so the
    * collect is a broadcast-sized lookup, never corpus-sized.
    *
    * Lowercasing is PER-CODE-POINT simple mapping
    * (Character.toLowerCase(int)), matching DuckDB's utf8proc lower()
    * — JVM String.toLowerCase applies full case mapping, whose
    * length-changing cases (U+0130 → i + combining dot) would shift
    * both bigram identity and n_bigrams vs the oracle.
    */
  def lmPerplexity(docs: DataFrame, artifactPath: String): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val rows = spark.read.parquet(artifactPath)
      .select(col("bigram"), col("surprise_mb").cast("long"))
      .as[(String, Long)].collect()
    val oov = rows.find(_._1 == "<OOV>").map(_._2)
      .getOrElse(sys.error(s"LM artifact $artifactPath has no <OOV> row"))
    val table = rows.iterator.filter(_._1 != "<OOV>").toMap
    docs.select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
      .mapPartitions { it =>
        it.map { case (id, text) =>
          val cps =
            if (text == null) Array.emptyIntArray
            else text.codePoints().map(Character.toLowerCase(_)).toArray
          var sum = 0L
          var n = 0L
          var i = 0
          while (i + 1 < cps.length) {
            sum += table.getOrElse(new String(cps, i, 2), oov)
            n += 1
            i += 1
          }
          (id, n, if (n == 0) 0L else sum / n)
        }
      }
      .toDF("doc_id", "n_bigrams", "ppl_mb")
  }

  // ---------------- Gopher-style repetition / format quality ----------------

  /** Code-point length — DuckDB's `length()` counts code points, while
    * JVM `String.length` counts UTF-16 units (an astral char is 2).
    */
  private def cpLen(s: String): Int = s.codePointCount(0, s.length)

  /** Code-point order == UTF-8 byte order, which is what the SQL
    * oracle's `ORDER BY g` / `min(g)` uses for tie-breaks. Plain JVM
    * String order is UTF-16-unit order, which ranks U+E000..U+FFFF
    * after supplementary chars — the opposite of UTF-8.
    */
  private[graft] def cpCompare(a: String, b: String): Int = {
    var i = 0
    var j = 0
    while (i < a.length && j < b.length) {
      val ca = a.codePointAt(i)
      val cb = b.codePointAt(j)
      if (ca != cb) return Integer.compare(ca, cb)
      i += Character.charCount(ca)
      j += Character.charCount(cb)
    }
    Integer.compare(a.length - i, b.length - j)
  }

  /** Per-document repetition and format metrics in the spirit of the
    * published Gopher quality rules (Rae et al. 2021, appendix A1.1 —
    * public algorithm): word stats, symbol-to-word ratio, alpha-word
    * fraction, and the fraction of characters covered by the most
    * common word 2-gram / 3-gram (repetition signal). Computed in one
    * per-row kernel pass (HashMap n-gram counts); every metric is
    * relationally recomputable, so the driver oracle re-derives them in
    * SQL from the same definitions:
    *
    *  - words = Python-\s split of the stripped, lowercased text
    *  - len() = CODE POINTS (DuckDB length()) and gram tie-breaks use
    *    code-point order (UTF-8 byte order), not UTF-16-unit order
    *  - mean_word_len_bp  = floor(sum(len(w)) / n * 10^4)
    *  - symbol_ratio_bp   = floor((count('#') + count_nonoverlap('...')) / n * 10^4)
    *  - alpha_word_bp     = floor(#words containing [a-z] / n * 10^4)
    *  - topKgram_char_bp  = floor(cnt(top) * len(top) / len(stripped) * 10^4),
    *    top = argmax by (count desc, gram asc), grams joined with ' '
    */
  def gopherMetrics(text: String): (Long, Long, Long, Long, Long, Long) = {
    val t = graft.text.PyText.strip(if (text == null) "" else text)
    if (t.isEmpty) return (0L, 0L, 0L, 0L, 0L, 0L)
    // simple per-code-point mapping, NOT String.toLowerCase: DuckDB's
    // lower() is utf8proc simple casing, and full case mapping's
    // length-changing cases (U+0130) would shift word lengths and
    // n-gram identities vs the oracle
    val lower = graft.text.PyText.simpleLower(t)
    // tokenize lowered text on Python-\s (same family as the dedup kernels)
    val words = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    val n = lower.length
    while (i < n) {
      while (i < n && graft.text.PyText.isPySpace(lower.charAt(i))) i += 1
      val s = i
      while (i < n && !graft.text.PyText.isPySpace(lower.charAt(i))) i += 1
      if (i > s) words += lower.substring(s, i)
    }
    val nw = words.length
    if (nw == 0) return (0L, 0L, 0L, 0L, 0L, 0L)
    var sumLen = 0L
    var alpha = 0L
    words.foreach { w =>
      sumLen += cpLen(w)
      if (w.exists(c => c >= 'a' && c <= 'z')) alpha += 1
    }
    // '#' chars + non-overlapping '...' runs, counted on the RAW text
    var sym = 0L
    i = 0
    while (i < t.length) { if (t.charAt(i) == '#') sym += 1; i += 1 }
    i = 0
    while ({ i = t.indexOf("...", i); i >= 0 }) { sym += 1; i += 3 }

    def topGramBp(k: Int): Long = {
      if (nw < k) return 0L
      val counts = new java.util.HashMap[String, Int]()
      var j = 0
      while (j + k <= nw) {
        val g = words.slice(j, j + k).mkString(" ")
        counts.merge(g, 1, _ + _)
        j += 1
      }
      var best: String = null
      var bestC = 0
      val it = counts.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        if (e.getValue > bestC ||
            (e.getValue == bestC && (best == null || cpCompare(e.getKey, best) < 0))) {
          best = e.getKey; bestC = e.getValue
        }
      }
      // integer multiply FIRST, then double divide — the SQL oracle
      // evaluates cnt * length(g) / len * 10000 in the same order
      math.floor((bestC.toLong * cpLen(best)).toDouble / cpLen(t) * 10000.0).toLong
    }

    (nw.toLong,
      math.floor(sumLen.toDouble / nw * 10000.0).toLong,
      math.floor(sym.toDouble / nw * 10000.0).toLong,
      math.floor(alpha.toDouble / nw * 10000.0).toLong,
      topGramBp(2), topGramBp(3))
  }

  /** documents → Gopher-style quality metric columns (pooled kernel). */
  def gopher(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, t) =>
        val m = gopherMetrics(t)
        (id, m._1, m._2, m._3, m._4, m._5, m._6)
      })
      .toDF("doc_id", "n_words", "mean_word_len_bp", "symbol_ratio_bp",
        "alpha_word_bp", "top2gram_char_bp", "top3gram_char_bp")
  }

  // ---------------- PII redaction ----------------

  /** Regex patterns shared verbatim by the Spark (Java regex) and DuckDB
    * (RE2) sides: character classes + greedy counted repetition only, no
    * alternation and no backtracking-sensitive constructs, so leftmost
    * matches coincide across engines.
    */
  val EmailPattern: String = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Pattern: String = "[0-9]{1,3}(\\.[0-9]{1,3}){3}"
  val IdPattern: String = "[0-9]{3}-[0-9]{2}-[0-9]{4}"

  /** text → (n_emails, n_ips, n_ids, redacted text): counts on the
    * input, then sequential replacement email → ip → id (the
    * placeholders contain no digits or '@', so later passes cannot
    * match earlier replacements).
    */
  def redactPii(text: Column): (Column, Column, Column, Column) = {
    val nEmails = regexp_count(text, lit(EmailPattern)).cast("long")
    val nIps = regexp_count(text, lit(Ipv4Pattern)).cast("long")
    val nIds = regexp_count(text, lit(IdPattern)).cast("long")
    val redacted = regexp_replace(
      regexp_replace(
        regexp_replace(text, EmailPattern, "<EMAIL>"),
        Ipv4Pattern, "<IP>"),
      IdPattern, "<ID>")
    (nEmails, nIps, nIds, redacted)
  }

  // ---------------- C4-style page cleaning ----------------

  /** C4's published cleaning heuristics (Raffel et al. 2020 §2.2,
    * public rules), as a pure per-row kernel — the line/page filter
    * stage of the canonical webtext pipeline:
    *
    *  page-level drops (precedence order, reason in `drop_reason`):
    *   - `empty`: null/blank text
    *   - `brace`: any '{' on the page (code, not prose)
    *   - `lorem_ipsum`: the placeholder phrase anywhere (lowercased)
    *   - `bad_word`: any whitespace token of the page (lowercased,
    *     per code point) is in `badWords` — C4 uses the public
    *     blocklist; the list is a parameter here
    *   - `too_few_sentences`: fewer than `minLines` lines survive the
    *     line filter
    *  line-level keeps (applied when no page drop fires): a line
    *  survives iff its trimmed form ends in terminal punctuation
    *  (. ! ? "), carries at least `minWords` whitespace tokens, and
    *  none of its lowercased tokens is "javascript".
    *
    * Zero exchanges — rides the extraction scan like text_derep; at
    * 100 TB this and the quality classifier are the two highest-volume
    * filter passes in the pipeline.
    *
    * @return (doc_id, text [null when dropped], n_kept, drop_reason
    *         [null when kept])
    */
  def c4Clean(docs: DataFrame, badWords: Set[String] = Set.empty,
      minWords: Int = 5, minLines: Int = 3): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
      .map { case (id, text) =>
        (id, text) match {
          case (_, null) => (id, null: String, 0L, "empty")
          case (_, t) if t.trim.isEmpty => (id, null: String, 0L, "empty")
          case (_, t) if t.indexOf('{') >= 0 => (id, null: String, 0L, "brace")
          case (_, t) if lowerCp(t).contains("lorem ipsum") =>
            (id, null: String, 0L, "lorem_ipsum")
          case (_, t) if badWords.nonEmpty &&
              lowerCp(t).split("[ \t\n\f\r]+").exists(badWords.contains) =>
            (id, null: String, 0L, "bad_word")
          case (_, t) =>
            val kept = t.split("\n", -1).filter(c4KeepLine(_, minWords))
            if (kept.length < minLines)
              (id, null: String, kept.length.toLong, "too_few_sentences")
            else (id, kept.mkString("\n"), kept.length.toLong, null: String)
        }
      }
      .toDF("doc_id", "text", "n_kept", "drop_reason")
  }

  /** Per-code-point simple lowercase (the lmPerplexity discipline —
    * matches SQL lower(), unlike String.toLowerCase's full mapping).
    */
  private def lowerCp(s: String): String =
    new String(s.codePoints().map(Character.toLowerCase(_)).toArray, 0,
      s.codePointCount(0, s.length))

  private[graft] def c4KeepLine(line: String, minWords: Int): Boolean = {
    val t = line.trim
    if (t.isEmpty) return false
    val last = t.charAt(t.length - 1)
    if (last != '.' && last != '!' && last != '?' && last != '"') return false
    val words = t.split("[ \t]+")
    words.length >= minWords && !words.exists(w => lowerCp(w) == "javascript")
  }

  // ---------------- encoding repair (mojibake) ----------------

  /** UTF-8-read-as-Latin-1 mojibake repair (the ftfy core case, from
    * the public construction): if every char of the string is ≤ U+00FF
    * (i.e. it IS a byte sequence wearing Latin-1 glasses), re-encode it
    * as Latin-1 and strictly re-decode as UTF-8. Accept the repair only
    * when the strict decode succeeds AND changes the string — genuine
    * Latin-1 text (a lone 'é') fails strict UTF-8 decoding and is left
    * untouched, ASCII round-trips to itself and reports unfixed. One
    * pass only: double-encoded mojibake would need a second application
    * (callers can iterate to a fixpoint; the detector is idempotent).
    */
  def fixMojibake(text: String): (String, Boolean) = {
    if (text == null || text.isEmpty) return (text, false)
    var suspicious = false
    var i = 0
    while (i < text.length) {
      val c = text.charAt(i)
      if (c > 0xFF) return (text, false) // not a Latin-1 reading
      if (c >= 0x80) suspicious = true
      i += 1
    }
    if (!suspicious) return (text, false) // pure ASCII: already valid
    val bytes = text.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
    val dec = java.nio.charset.StandardCharsets.UTF_8.newDecoder()
      .onMalformedInput(java.nio.charset.CodingErrorAction.REPORT)
      .onUnmappableCharacter(java.nio.charset.CodingErrorAction.REPORT)
    try {
      val fixed = dec.decode(java.nio.ByteBuffer.wrap(bytes)).toString
      if (fixed == text) (text, false) else (fixed, true)
    } catch {
      case _: java.nio.charset.CharacterCodingException => (text, false)
    }
  }

  /** (doc_id, text) → (doc_id, text, was_fixed) with mojibake repaired.
    * Pure per-row kernel — parallelizes with the scan, no exchange.
    */
  def fixMojibakeDf(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, t) =>
        val (fixed, was) = fixMojibake(t)
        (id, fixed, was)
      })
      .toDF("doc_id", "text", "was_fixed")
  }

  // ---------------- bigram LM training (the artifact producer) ----------------

  /** floor(1000 · log2(a/b)) computed EXACTLY: the largest k with
    * 2^k · b^1000 ≤ a^1000, found by BigInteger comparison around a
    * double first guess. The double guess can be off by a ulp at a
    * floor boundary; the integer comparison cannot — so the result is
    * a pure function of (a, b), independent of libm, JIT, or platform.
    * a^1000 for a ≈ 10^6 is a ~20k-bit BigInteger — microseconds, and
    * this runs once per DISTINCT bigram (|alphabet|² bounded), never
    * per row.
    */
  private[graft] def floorMillibitLog2(a: Long, b: Long): Long = {
    require(a > 0 && b > 0, s"floorMillibitLog2($a, $b)")
    val A = java.math.BigInteger.valueOf(a).pow(1000)
    val B = java.math.BigInteger.valueOf(b).pow(1000)
    def le(k: Long): Boolean = // 2^k · B ≤ A, k possibly negative
      if (k >= 0) B.shiftLeft(k.toInt).compareTo(A) <= 0
      else B.compareTo(A.shiftLeft((-k).toInt)) <= 0
    var k = math.floor(
      1000.0 * (math.log(a.toDouble) - math.log(b.toDouble)) / math.log(2.0)).toLong
    while (!le(k)) k -= 1
    while (le(k + 1)) k += 1
    k
  }

  /** [[floorMillibitLog2]] over a rational with PRODUCT numerator and
    * denominator (a1·a2)/(b1·b2) — the Naive-Bayes weight shape, where
    * the products overflow Long at corpus scale.
    */
  private[graft] def floorMillibitLog2Rat(a1: Long, a2: Long,
      b1: Long, b2: Long): Long = {
    require(a1 > 0 && a2 > 0 && b1 > 0 && b2 > 0,
      s"floorMillibitLog2Rat($a1,$a2,$b1,$b2)")
    val A = java.math.BigInteger.valueOf(a1)
      .multiply(java.math.BigInteger.valueOf(a2)).pow(1000)
    val B = java.math.BigInteger.valueOf(b1)
      .multiply(java.math.BigInteger.valueOf(b2)).pow(1000)
    def le(k: Long): Boolean =
      if (k >= 0) B.shiftLeft(k.toInt).compareTo(A) <= 0
      else B.compareTo(A.shiftLeft((-k).toInt)) <= 0
    var k = math.floor(1000.0 *
      (math.log(a1.toDouble) + math.log(a2.toDouble) -
        math.log(b1.toDouble) - math.log(b2.toDouble)) / math.log(2.0)).toLong
    while (!le(k)) k -= 1
    while (le(k + 1)) k += 1
    k
  }

  // ---------------- Naive-Bayes quality classifier ----------------

  /** Multinomial-NB per-token weights, trained DISTRIBUTED: one
    * tokenize pass → per-token class counts (map-side combined), then
    * each vocab row gets the integer millibit log-likelihood ratio
    *   w_mb(t) = floor(1000·log2( (c1+1)(N0+V) / ((c0+1)(N1+V)) ))
    * (add-one smoothing) via the exact BigInteger floor — the same
    * libm-independence discipline as the bigram LM. The only collect is
    * the 1-row (N1, N0, V) aggregate; the weight TABLE stays
    * distributed (vocab-sized — at web scale that is millions of rows,
    * which is exactly why it is a DataFrame, not a broadcast).
    *
    * @return (tok, c1, c0, w_mb)
    */
  def nbWeights(docs: DataFrame, isPos: Column): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val counts = wordTokens(docs, col("doc_id"), isPos.as("is_pos"))
      .groupBy(col("tok"))
      .agg(sum(when(col("is_pos"), 1L).otherwise(0L)).as("c1"),
        sum(when(col("is_pos"), 0L).otherwise(1L)).as("c0"))
    val head = counts.agg(sum(col("c1")), sum(col("c0")), count(lit(1)))
      .collect()(0)
    val n1 = head.getLong(0); val n0 = head.getLong(1); val v = head.getLong(2)
    counts.as[(String, Long, Long)]
      .map { case (t, c1, c0) =>
        (t, c1, c0, floorMillibitLog2Rat(c1 + 1, n0 + v, c0 + 1, n1 + v))
      }
      .toDF("tok", "c1", "c0", "w_mb")
  }

  /** The class prior in millibits: floor(1000·log2((D1+1)/(D0+1))) over
    * labeled doc counts.
    */
  def nbPrior(docs: DataFrame, isPos: Column): Long = {
    val head = docs.agg(
      sum(when(isPos, 1L).otherwise(0L)),
      sum(when(isPos, 0L).otherwise(1L))).collect()(0)
    floorMillibitLog2(head.getLong(0) + 1, head.getLong(1) + 1)
  }

  /** Train-and-apply NB quality classification (the model-based filter
    * stage of modern webtext pipelines — fastText/DCLM-style, here a
    * from-scratch multinomial NB with integer-exact arithmetic so the
    * scores are engine- and partitioning-independent).
    *
    * Apply path: tokens equi-join the weight table on tok (planner's
    * choice of broadcast vs co-partition — the vocab side is NOT
    * assumed small), per-doc weight sums partial-combine, zero-token
    * docs keep the bare prior via the left join.
    *
    * @return (doc_id, score_mb, pred_pos, is_pos)
    */
  def nbClassify(docs: DataFrame, isPos: Column): DataFrame = {
    val w = nbWeights(docs, isPos)
    val prior = nbPrior(docs, isPos)
    val sums = wordTokens(docs, col("doc_id"), isPos.as("is_pos"))
      .join(w.select(col("tok"), col("w_mb")), "tok")
      .groupBy(col("doc_id")).agg(sum(col("w_mb")).as("s"))
    docs.select(col("doc_id"), isPos.as("is_pos"))
      .join(sums, Seq("doc_id"), "left")
      .select(col("doc_id"),
        (coalesce(col("s"), lit(0L)) + lit(prior)).as("score_mb"),
        (coalesce(col("s"), lit(0L)) + lit(prior) >= 0L).as("pred_pos"),
        col("is_pos"))
  }

  /** Distributed training of the char-bigram LM artifact that
    * [[lmPerplexity]] consumes (CCNet trains the filter LM on the
    * corpus it curates — Wenzek et al. 2020, public idea). Counting is
    * one kernel pass with per-partition HashMap combine (only DISTINCT
    * bigrams per partition ever shuffle — |alphabet|² bounded, so the
    * exchange is KBs at any corpus size), then each model row gets
    * `surprise_mb = floor(log2((N+V)/(c+1))·1000)` (add-one smoothing)
    * via the exact integer floor above. The N/V totals come from one
    * 1-row aggregate over the bounded counts table.
    *
    * Lowercasing is per-code-point simple mapping, like lmPerplexity
    * (and like the independent Python derivation on this ASCII corpus —
    * Python str.lower() is full case mapping, which diverges only on
    * length-changing case pairs such as U+0130).
    */
  def trainBigramLm(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val counts = docs.select(col("text")).as[String]
      .mapPartitions { it =>
        val m = new java.util.HashMap[String, Long]()
        it.foreach { text =>
          val cps =
            if (text == null) Array.emptyIntArray
            else text.codePoints().map(Character.toLowerCase(_)).toArray
          var i = 0
          while (i + 1 < cps.length) {
            m.merge(new String(cps, i, 2), 1L, _ + _)
            i += 1
          }
        }
        val out = new Array[(String, Long)](m.size)
        val eit = m.entrySet().iterator()
        var j = 0
        while (eit.hasNext) {
          val e = eit.next(); out(j) = (e.getKey, e.getValue); j += 1
        }
        out.iterator
      }
      .toDF("bigram", "c").groupBy(col("bigram"))
      .agg(sum(col("c")).as("c"))
      .persist()
    val head = counts.agg(sum(col("c")), count(lit(1))).collect()(0)
    val n = head.getLong(0) // total bigram occurrences
    val v = head.getLong(1) // distinct bigrams
    val model = counts.as[(String, Long)]
      .map { case (b, c) => (b, floorMillibitLog2(n + v, c + 1)) }
      .toDF("bigram", "surprise_mb")
      .unionByName(Seq(("<OOV>", floorMillibitLog2(n + v, 1L)))
        .toDF("bigram", "surprise_mb"))
    val out = model.collect() // |alphabet|²+1 rows: the artifact itself
    counts.unpersist()
    spark.createDataFrame(
      spark.sparkContext.parallelize(out.toIndexedSeq, 1), model.schema)
  }

  /** documents(doc_id, text, ...) → per-doc analysis columns. */
  def analyze(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      tokenCount(col("text")).as("n_tokens"),
      langId(col("text")).as("lang_guess"),
      qualityScore(col("text")).as("quality_bp"),
      fingerprint(col("text")).as("fingerprint"))
}
