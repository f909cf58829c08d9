package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines.
  * Tokenization is a native (codegen'd) regexp; the per-token kernels
  * (`languageId`, `quality`, `repetition`, `shingles`, `fingerprint`) and
  * the per-text ones (`redactPii`, `c4Lines`) are compiled Scala UDFs, one
  * pass per row, because their higher-order-function equivalents are
  * interpreted and several times slower. Every op has a deterministic SQL
  * mirror for the DuckDB oracle.
  */
object TextOps {

  /** ASCII word-extraction regex shared with [[graft.analysis.Analyzers.standard]]. */
  val wordRegex = "[a-z0-9_]+(?:['.][a-z0-9_]+)*"

  /** Lowercased tokens as an array column (codegen'd regexp). */
  def tokens(text: Column): Column =
    regexp_extract_all(lower(text), lit(wordRegex), lit(0))

  /** Exact token count. */
  def tokenCount(text: Column): Column = size(tokens(text))

  /** Tiny per-language function-word lists (public common words). The
    * detector is a ratio heuristic: argmax over languages of
    * |tokens ∩ stopwords(lang)| / |tokens|.
    */
  val stopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "of", "and", "to", "a", "in", "is", "that", "for", "it"),
    "de" -> Seq("der", "die", "das", "und", "zu", "ein", "ist", "nicht", "mit", "den"),
    "fr" -> Seq("le", "la", "les", "et", "un", "une", "est", "pour", "dans", "que"),
    "es" -> Seq("el", "la", "los", "y", "un", "una", "es", "para", "en", "que"))

  /** Count of tokens present in `words` (order-stable fold). */
  def stopwordHits(toks: Column, words: Seq[String]): Column =
    aggregate(toks, lit(0),
      (acc, t) => acc + when(t.isin(words: _*), 1).otherwise(0))

  /** Predicted language code by max stopword-hit count; ties break by
    * language-code order (en < de... explicit priority = list order).
    *
    * One compiled pass over the (codegen'd) token array. The previous
    * when-fold over four `aggregate` HOFs was interpreted (CodegenFallback)
    * AND duplicated each language's aggregate into every later branch —
    * ~2 s/5k docs; this is a single token loop with four counters.
    */
  def languageId(text: Column): Column = {
    val langs = stopwords.map(_._1).toArray
    val sets = stopwords.map(_._2.toSet).toArray
    val f = udf((ts: Seq[String]) => {
      val hits = new Array[Int](sets.length)
      if (ts != null) ts.foreach { t =>
        var i = 0
        while (i < sets.length) { if (sets(i)(t)) hits(i) += 1; i += 1 }
      }
      var best = -1
      var bestHits = 0 // strict '>' keeps list-order priority on ties
      var i = 0
      while (i < hits.length) { if (hits(i) > bestHits) { best = i; bestHits = hits(i) }; i += 1 }
      if (best < 0) "und" else langs(best)
    })
    f(tokens(text))
  }

  /** Quality metrics struct: token count, char count, stopword ratio (en),
    * mean token length, alpha ratio. Mirrors common pretraining-data
    * quality heuristics (length/punct/stopword ratios).
    */
  def quality(text: Column): Column = {
    val toks = tokens(text)
    val en = stopwords.head._2.toSet
    // one compiled pass for the token-dependent stats (the aggregate-HOF
    // equivalents are interpreted); chars/alpha stay native codegen'd exprs
    val agg = udf((ts: Seq[String]) => {
      var n = 0
      var hits = 0
      var sumLen = 0L
      if (ts != null) ts.foreach { t =>
        n += 1
        if (en(t)) hits += 1
        sumLen += t.length
      }
      (n, hits, sumLen)
    })
    val a = agg(toks)
    val n = a.getField("_1").cast("double")
    val chars = length(text).cast("double")
    val stopRatio = when(n > 0, a.getField("_2").cast("double") / n).otherwise(0.0)
    val meanLen = when(n > 0, a.getField("_3").cast("double") / n).otherwise(0.0)
    val alphaRatio = when(chars > 0,
      (chars - length(regexp_replace(text, lit("[A-Za-z]"), lit("")))) / chars).otherwise(0.0)
    struct(
      a.getField("_1").as("n_tokens"),
      length(text).as("n_chars"),
      stopRatio.as("stopword_ratio"),
      meanLen.as("mean_token_len"),
      alphaRatio.as("alpha_ratio"))
  }

  /** PII redaction — the standard pre-training scrub (the BigScience ROOTS /
    * Dolma shape): emails, IPv4 addresses, and +-prefixed phone numbers are
    * replaced by fixed placeholder tokens, with per-category match counts.
    * Patterns are deliberately RE2-compatible (no lookarounds, no
    * backreferences) so a SQL oracle can run the IDENTICAL regexes; the
    * category order is fixed (emails → IPs → phones) and each count is
    * taken on the PREVIOUS category's redacted text, since an email's host
    * part can itself parse as an IPv4 (`a@1.2.3.4.com`). One Scala UDF
    * runs the three java.util.regex passes (the engine Spark's native
    * regexp functions use). Returns struct(clean, n_emails, n_ips,
    * n_phones); a null text gives a non-null struct whose four fields are
    * all null.
    */
  def redactPii(text: Column): Column = {
    // ONE matcher walk per category does the count AND the replacement
    // (guide §1.2 per-task work): the native regexp_replace +
    // regexp_extract_all pair traversed the text twice per category — six
    // compiled-regex passes per row where three suffice. java.util.regex is
    // exactly the engine Spark's own RegExpReplace/RegExpExtractAll run
    // (same patterns, no flags, non-overlapping find() semantics), and the
    // replacements contain no $/\ escapes, so output is bit-identical —
    // the oracle row and the golds pin it. Count-on-previous-redaction
    // order unchanged: emails counted on the raw text, IPs on the
    // email-redacted text, phones on the IP-redacted text.
    val emailP = java.util.regex.Pattern.compile(
      "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}")
    val ipP = java.util.regex.Pattern.compile(
      "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b")
    val phoneP = java.util.regex.Pattern.compile("\\+\\d[\\d\\- ]{7,}\\d")
    val f = udf((t: String) => {
      if (t == null) null
      else {
        def pass(s: String, p: java.util.regex.Pattern, repl: String): (String, Int) = {
          val m = p.matcher(s)
          if (!m.find()) (s, 0) // common case: no PII, no allocation
          else {
            val sb = new java.lang.StringBuilder(s.length)
            var n = 0
            var last = 0
            do {
              n += 1
              sb.append(s, last, m.start).append(repl)
              last = m.end
            } while (m.find())
            sb.append(s, last, s.length)
            (sb.toString, n)
          }
        }
        val (afterEmail, nEmails) = pass(t, emailP, "<EMAIL>")
        val (afterIp, nIps) = pass(afterEmail, ipP, "<IP>")
        val (clean, nPhones) = pass(afterIp, phoneP, "<PHONE>")
        (clean, nEmails, nIps, nPhones)
      }
    })
    val a = f(text)
    struct(
      a.getField("_1").as("clean"),
      a.getField("_2").as("n_emails"),
      a.getField("_3").as("n_ips"),
      a.getField("_4").as("n_phones"))
  }

  /** C4 line/page cleaning (Raffel et al., "Exploring the Limits of
    * Transfer Learning with a Unified Text-to-Text Transformer", JMLR 2020,
    * §2.2 — the public filter set): keep lines whose stripped form ends in
    * terminal punctuation (one of `.` `!` `?` `"`) and carries at least
    * `minWordsPerLine` whitespace-separated words; a page SURVIVES when it
    * keeps at least `minLines` lines and contains neither the phrase
    * "lorem ipsum" (case-insensitive) nor a curly bracket — either `{` or
    * `}`, so a truncated code tail still trips it (the paper's
    * boilerplate/code tells). Returns
    * struct(clean, kept, dropped, keep_page) where `clean` is the kept
    * lines re-joined by newline — the downstream training-pipeline input.
    *
    * One compiled pass per doc (the interpreted aggregate-HOF fold measured
    * 10×+ slower on q_langid — BASELINE round 2); pair with
    * [[graft.ops.Dedup.cpuParallel]] when the source scan is narrow.
    */
  def c4Lines(text: Column, minWordsPerLine: Int = 5, minLines: Int = 3): Column = {
    val mw = minWordsPerLine
    val ml = minLines
    val f = udf((t: String) => {
      if (t == null) null
      else {
        val lines = t.split("\n", -1)
        val kept = lines.filter { l =>
          val s = l.strip
          s.nonEmpty && ".!?\"".indexOf(s.charAt(s.length - 1)) >= 0 && {
            var words = 0
            var inWord = false
            var i = 0
            while (i < s.length) {
              val w = !Character.isWhitespace(s.charAt(i))
              if (w && !inWord) words += 1
              inWord = w
              i += 1
            }
            words >= mw
          }
        }
        val keepPage = kept.length >= ml &&
          !t.toLowerCase(java.util.Locale.ROOT).contains("lorem ipsum") &&
          t.indexOf('{') < 0 && t.indexOf('}') < 0 // "a curly bracket",
          // either one — a truncated code tail carries only the closer
        (kept.mkString("\n"), kept.length, lines.length - kept.length, keepPage)
      }
    })
    val a = f(text)
    struct(
      a.getField("_1").as("clean"),
      a.getField("_2").as("kept"),
      a.getField("_3").as("dropped"),
      a.getField("_4").as("keep_page"))
  }

  /** Repetition metrics — the Gopher quality-filter family (Rae et al.,
    * "Scaling Language Models: Methods, Analysis & Insights from Training
    * Gopher", 2021, App. A1.1): documents dominated by repeated content are
    * low-quality training data and slip past length/stopword heuristics.
    * Token-level signals (the paper's line/paragraph twins reduce to these
    * on single-line corpora and are a split('\n') away):
    *
    *  - `dup_token_frac`: (n_tokens − n_distinct_tokens) / n_tokens —
    *    occurrences beyond a token's first are "duplicates".
    *  - `top{2,3,4}gram_char_frac`: char mass of the MOST FREQUENT word
    *    n-gram (count × Σ of its tokens' lengths, spaces excluded; ties →
    *    lexicographically smallest space-joined n-gram) over the total
    *    token char mass. Overlapping occurrences count (sliding window).
    *
    * All zeros for empty/too-short docs. One compiled pass over the
    * codegen'd token array (the HOF equivalent is interpreted and
    * re-materializes every n-gram).
    */
  def repetition(text: Column): Column = {
    val f = udf((ts: Seq[String]) => {
      if (ts == null || ts.isEmpty) (0.0, 0.0, 0.0, 0.0)
      else {
        var denom = 0L
        val seen = new java.util.HashSet[String]()
        ts.foreach { t => denom += t.length; seen.add(t) }
        val dupFrac = (ts.length - seen.size).toDouble / ts.length
        def topFrac(n: Int): Double =
          if (ts.length < n || denom == 0L) 0.0
          else {
            val counts = new java.util.HashMap[String, Integer]()
            val sb = new java.lang.StringBuilder
            var i = 0
            while (i + n <= ts.length) {
              sb.setLength(0)
              var j = i
              while (j < i + n) { if (j > i) sb.append(' '); sb.append(ts(j)); j += 1 }
              counts.merge(sb.toString, 1, (a, b) => a + b)
              i += 1
            }
            var bestG: String = null
            var bestC = 0
            counts.forEach { (g, c) =>
              if (c > bestC || (c == bestC && g.compareTo(bestG) < 0)) {
                bestG = g; bestC = c
              }
            }
            // space-joined key minus the n−1 spaces = the tokens' char mass
            (bestC.toLong * (bestG.length - (n - 1))).toDouble / denom.toDouble
          }
        (dupFrac, topFrac(2), topFrac(3), topFrac(4))
      }
    })
    val r = f(tokens(text))
    struct(
      r.getField("_1").as("dup_token_frac"),
      r.getField("_2").as("top2gram_char_frac"),
      r.getField("_3").as("top3gram_char_frac"),
      r.getField("_4").as("top4gram_char_frac"))
  }

  /** Word n-gram shingles: array of space-joined n-grams. Compiled UDF over
    * the (codegen'd) token array — the equivalent transform/slice
    * higher-order expression is interpreted and allocation-heavy.
    */
  def shingles(text: Column, n: Int): Column = {
    val f = udf((toks: Seq[String]) =>
      if (toks == null || toks.length < n) Seq.empty[String]
      else toks.sliding(n).map(_.mkString(" ")).toSeq)
    f(tokens(text))
  }

  /** k-min-hash document fingerprint: the k lexicographically smallest
    * md5(shingle) values, joined — a deterministic, SQL-mirrorable stand-in
    * for rolling-hash winnowing (same selectivity shape: content-defined,
    * local-edit tolerant). One compiled pass over the token array (the
    * transform+md5 expression form is interpreted per shingle and
    * re-allocates; this shingles, hashes, and selects in a single UDF with
    * one reused digest).
    */
  def fingerprint(text: Column, n: Int = 3, k: Int = 4): Column = {
    val f = udf((toks: Seq[String]) => {
      if (toks == null || toks.length < n) ""
      else {
        val digest = Md5.digest()
        val out = new Array[String](toks.length - n + 1)
        var i = 0
        while (i + n <= toks.length) {
          var j = i
          while (j < i + n) {
            if (j > i) digest.update(' '.toByte)
            digest.update(toks(j).getBytes("UTF-8"))
            j += 1
          }
          out(i) = Md5.hex(digest.digest())
          i += 1
        }
        java.util.Arrays.sort(out.asInstanceOf[Array[AnyRef]])
        out.take(k).mkString(",")
      }
    })
    f(tokens(text))
  }
}
