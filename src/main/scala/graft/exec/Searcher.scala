package graft.exec

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._

import graft.index.{Index, Posting, PostingBlock, PostingCodec}
import graft.query._

/** Lucene BM25Similarity parity (SURVEY.md §4.3):
  *   idf  = ln(1 + (docCount − df + 0.5) / (df + 0.5))   [field docCount, not maxDoc]
  *   tfn  = tf / (tf + k1·(1 − b + b·dlq/avgdl))          [no (k1+1) numerator, Lucene ≥8]
  *   dlq  = SmallFloat-quantized doc length stored in the posting block
  *   dlq=0 ⇒ norms omitted (keyword fields) ⇒ denominator tf + k1.
  * Boost multiplies; ties break on ascending docId (collector order).
  */
object Bm25 {
  val k1 = 1.2
  val b = 0.75

  def idf(docCount: Long, docFreq: Long): Double =
    math.log(1.0 + (docCount - docFreq + 0.5) / (docFreq + 0.5))

  /** Codegen-friendly score column over decoded postings (tf, dlq). */
  def scoreCol(tf: Column, dlq: Column, weight: Double, avgdl: Double): Column = {
    val norm = when(dlq === 0, lit(k1))
      .otherwise(lit(k1) * (lit(1.0 - b) + lit(b) * dlq.cast("double") / lit(avgdl)))
    lit(weight) * tf.cast("double") / (tf.cast("double") + norm)
  }

  def score(tf: Double, dlq: Int, weight: Double, avgdl: Double): Double = {
    val norm = if (dlq == 0) k1 else k1 * (1.0 - b + b * dlq / avgdl)
    weight * tf / (tf + norm)
  }
}

final case class SortSpec(field: String, descending: Boolean = false)

object Searcher {

  /** Damerau (OSA) distance as a column — Lucene fuzzy/spellcheck count an
    * adjacent transposition as ONE edit, unlike Spark's levenshtein.
    */
  val damerau: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf((a: String, b: String) => graft.util.EditDistance.damerau(a, b))

  /** Canonical string key for a group value: value types hash by content —
    * in particular byte arrays (binary docvalues), whose toString is
    * identity-based and would split equal values into distinct groups.
    */
  private[exec] def groupKey(v: Any): String = v match {
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case s: scala.collection.Seq[_] => s.map(groupKey).mkString("[", ",", "]")
    case x => String.valueOf(x)
  }

  /** A block's docId salt bucket — blocks never span one, so hash-
    * partitioning on it co-locates every key's blocks of a bucket.
    */
  private[exec] def saltBucket: Column =
    shiftrightunsigned(col("firstDocId"), graft.index.IndexBuilder.SaltShift)

  /** Padded trigrams of a term — see [[graft.index.TermGrams.padGrams]]. */
  private[graft] def padGrams(s: String): Seq[String] =
    graft.index.TermGrams.padGrams(s)

  /** Fuzzy-expansion predicate over the term dictionary. Cheap filters run
    * first (Catalyst And short-circuits left-to-right): a length window —
    * |len(term) − len(q)| ≤ maxEdits is necessary for any edit distance — and
    * the FuzzyQuery prefixLength anchor, so the O(|a|·|b|) distance only runs
    * on the surviving sliver of a large dictionary (Lucene walks a
    * Levenshtein automaton in O(matches); this is the set-filter equivalent).
    */
  def fuzzyCond(q: String, maxEdits: Int, prefixLen: Int, transpositions: Boolean): Column = {
    val lenOk = abs(length(col("term")) - lit(q.length)) <= maxEdits
    val prefOk =
      if (prefixLen > 0) col("term").startsWith(q.take(prefixLen)) else lit(true)
    val dist =
      if (transpositions) damerau(col("term"), lit(q))
      else levenshtein(col("term"), lit(q))
    lenOk && prefOk && (dist <= maxEdits)
  }
}

/** Query evaluation over an [[Index]]: every query node evaluates to a
  * DataFrame of (docId, score) with one row per matching doc, composed with
  * plain Catalyst operators (union + hash-aggregate for boolean algebra —
  * one shuffle per boolean level, no cascaded joins; TakeOrderedAndProject
  * for top-k). Mirrors the reference searcher surface
  * (/root/reference/lupyne/engine/indexers.py:314-461).
  */
class Searcher(val index: Index) extends Serializable {
  private val spark = index.spark
  import spark.implicits._

  val MaxExpandedTerms = 1024 // Lucene BooleanQuery.maxClauseCount default

  // ---------------------------------------------------------------- postings

  /** Decode posting blocks for one (field, term) → Dataset[Posting].
    * The scoring path projects away `positionsBlob` (often the widest
    * column) before deserialization, so parquet never reads it.
    */
  def postings(field: String, term: String, withPositions: Boolean = false): Dataset[Posting] = {
    val filtered = index.blocks.filter(col("field") === field && col("term") === term)
    if (withPositions) filtered.flatMap(b => PostingCodec.decodeBlock(b, withPositions = true))
    else filtered
      .select(col("firstDocId"), col("numDocs"), col("docsBlob"), col("freqsBlob"), col("normsBlob"))
      .as[(Long, Int, Array[Byte], Array[Byte], Array[Byte])]
      .flatMap { case (f, n, d, fr, no) => PostingCodec.decodeScore(f, n, d, fr, no) }
  }

  /** docFreq fast path: O(dictionary lookup), no postings scan
    * (reference count 2-arg fast path, indexers.py:390-399).
    */
  def docFreq(field: String, term: String): Long =
    termStats(field, Seq(term)).get(term).map(_._1).getOrElse(0L)

  /** Collect (docFreq, totalTermFreq) for a small set of query terms.
    * Memoized per (field, term) on the driver: term statistics are immutable
    * for an index view (tombstones deliberately do not change them, like
    * pre-merge Lucene), so repeated query terms skip the dictionary job.
    * Negative lookups cache too (absent terms are common in fuzzy/spell).
    */
  private val statsCache =
    scala.collection.concurrent.TrieMap.empty[(String, String), Option[(Long, Long)]]

  def termStats(field: String, terms: Seq[String]): Map[String, (Long, Long)] = {
    val distinct = terms.distinct
    // resolve from the cache FIRST: the size-bound clear below must never
    // invalidate entries this call already relies on
    val cached = distinct.flatMap(t => statsCache.get((field, t)).map(t -> _)).toMap
    val missing = distinct.filterNot(cached.contains)
    val found: Map[String, (Long, Long)] =
      if (missing.isEmpty) Map.empty
      else index.termDict
        .filter(col("field") === field && col("term").isin(missing: _*))
        .select("term", "docFreq", "totalTermFreq")
        .collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
        .toMap
    if (missing.nonEmpty) {
      // bounded driver memory: shed HALF instead of clearing, so a workload
      // cycling around the bound keeps a warm working set rather than
      // thrashing from zero (reads above resolved before any shed)
      if (statsCache.size > 65536)
        statsCache.keysIterator.take(statsCache.size / 2).foreach(statsCache.remove)
      missing.foreach(t => statsCache.put((field, t), found.get(t)))
    }
    cached.collect { case (t, Some(v)) => t -> v } ++ found
  }

  /** Numeric docvalue view of a column: timestamps (incl. NTZ, read as UTC —
    * the session timezone) become epoch seconds, matching the reference's
    * DateTimeField timestamp points.
    */
  private def numericCol(f: String): Column = {
    import org.apache.spark.sql.types._
    val c = graft.index.Cols.qcol(f)
    index.docs.schema(f).dataType match {
      case TimestampNTZType => c.cast(TimestampType).cast("double")
      case _                => c.cast("double")
    }
  }

  private def emptyMatches: DataFrame =
    spark.range(0).select(col("id").as("docId"), lit(0.0).as("score"))

  // -------------------------------------------------------------- evaluation

  /** Evaluate a query to (docId: Long, score: Double), one row per doc;
    * tombstoned docs are pruned at the top (liveDocs semantics).
    */
  def eval(q: Query): DataFrame = index.deletes match {
    case None    => evalInner(q)
    case Some(d) => evalInner(q).join(d, Seq("docId"), "left_anti")
  }

  private def evalInner(q: Query): DataFrame = q match {
    case Term(f, t) => evalTerm(f, t, 1.0, docFreq(f, t))

    case TermSet(f, ts) => // constant-score term-set (TermInSetQuery)
      constantOverTerms(f, col("term").isin(ts.distinct: _*), 1.0, Some(ts.distinct))

    case Bool(clauses) => evalBool(clauses)

    case DisMax(tie, qs) =>
      val parts = qs.map(evalInner)
      if (parts.isEmpty) emptyMatches
      else parts.reduce(_ unionAll _)
        .groupBy("docId")
        .agg(max("score").as("mx"), sum("score").as("sm"))
        .select(col("docId"),
          (col("mx") + lit(tie) * (col("sm") - col("mx"))).as("score"))

    case p: Phrase   => evalPhrase(p)
    case n: Near     => evalNear(n)
    case SpanWrap(s) => evalSpan(s)

    case Prefix(f, p) =>
      constantOverTerms(f, col("term").startsWith(p), 1.0)
    case TermRange(f, lo, hi, il, iu) =>
      val conds = Seq(
        lo.map(v => if (il) col("term") >= v else col("term") > v),
        hi.map(v => if (iu) col("term") <= v else col("term") < v)
      ).flatten
      constantOverTerms(f, conds.reduceOption(_ && _).getOrElse(lit(true)), 1.0)
    case Wildcard(f, pat) =>
      constantOverTerms(f, col("term").rlike(wildcardToRegex(pat)), 1.0)
    case Regexp(f, pat) =>
      constantOverTerms(f, col("term").rlike("^(?:" + pat + ")$"), 1.0)
    case Fuzzy(f, t, maxEdits, prefixLen, transpositions) =>
      // edit-distance expansion incl. the exact term (FuzzyQuery semantics,
      // constant score); the trigram prefilter narrows the dictionary first
      constantOverTerms(f, Searcher.fuzzyCond(t, maxEdits, prefixLen, transpositions), 1.0,
        dict = fuzzyPrefiltered(f, t, maxEdits))

    case Points(f, vs) =>
      index.docs.filter(numericCol(f).isin(vs: _*))
        .select(col("docId"), lit(1.0).as("score"))
    case NumRanges(f, intervals, il, iu) =>
      val c = numericCol(f)
      val cond = intervals.map { case (lo, hi) =>
        val parts = Seq(
          lo.map(v => if (il) c >= v else c > v),
          hi.map(v => if (iu) c <= v else c < v)).flatten
        parts.reduceOption(_ && _).getOrElse(lit(true))
      }.reduceOption(_ || _).getOrElse(lit(false))
      index.docs.filter(cond).select(col("docId"), lit(1.0).as("score"))

    case AllDocs => index.docs.select(col("docId"), lit(1.0).as("score"))
    case NoDocs  => emptyMatches

    case Boost(sub, v) => evalInner(sub).select(col("docId"), (col("score") * v).as("score"))
    case Constant(sub) => evalInner(sub).select(col("docId"), lit(1.0).as("score"))
  }

  private def evalTerm(field: String, term: String, boost: Double, df: Long): DataFrame = {
    val st = index.fieldStats.getOrElse(field, return emptyMatches)
    if (df == 0) return emptyMatches
    val w = boost * Bm25.idf(st.docCount, df)
    postings(field, term).toDF()
      .select(col("docId"), Bm25.scoreCol(col("tf"), col("dlq"), w, st.avgdl).as("score"))
  }

  /** Multi-term queries rewrite to a constant-score doc-set union
    * (Lucene CONSTANT_SCORE rewrite; SURVEY.md §4.2). Small expansions are
    * collected and pushed down as an `isin` scan filter; large ones stay
    * distributed via a semi-join against the term dictionary.
    */
  private def constantOverTerms(field: String, termCond: Column, boost: Double,
      knownTerms: Option[Seq[String]] = None, dict: DataFrame = null): DataFrame = {
    val matchedDocs: DataFrame = knownTerms match {
      case Some(ts) =>
        // "" is the norms-sentinel pseudo-term — never a real match
        val real = ts.filter(_.nonEmpty)
        index.blocks.filter(col("field") === field && col("term").isin(real: _*)).toDF()
      case None =>
        val termsDf = Option(dict).getOrElse(index.termDict)
          .filter(col("field") === field && col("term") =!= "" && termCond)
          .select("term")
        val small = termsDf.as[String].take(MaxExpandedTerms + 1)
        if (small.length <= MaxExpandedTerms)
          index.blocks.filter(col("field") === field &&
            col("term").isin(small.toSeq: _*)).toDF()
        else
          index.blocks.filter(col("field") === field)
            .join(broadcast(termsDf), Seq("term"), "left_semi")
    }
    matchedDocs
      .select(col("firstDocId"), col("numDocs"), col("docsBlob"))
      .as[(Long, Int, Array[Byte])]
      .flatMap { case (f, n, d) => PostingCodec.decodeDocIds(f, n, d) }
      .toDF("docId").distinct()
      .select(col("docId"), lit(boost).as("score"))
  }

  // ------------------------------------------------- fuzzy candidate pruning

  /** Trigram inverted index over the term dictionary: (field, gram, term).
    * The save() layout materializes it range-laid-out by (field, gram)
    * (parquet min/max pruning per gram lookup — the serving shape); an
    * in-memory or pre-grams index derives it lazily from the (cached)
    * termDict and pins it on first fuzzy use.
    */
  private lazy val termGrams: DataFrame = index.termGrams.getOrElse {
    // shared bounded cache — see TermGrams.cachedOf (one pinned copy per
    // dictionary instance, evicted+unpersisted when superseded)
    graft.index.TermGrams.cachedOf(index.termDict)
  }

  /** Cost gate for the trigram prefilter: the gram route always costs extra
    * STAGES per query (gram-count aggregation + semi-join against the
    * dictionary) on top of whatever produced the grams, so it only pays off
    * once the dictionary is large enough (≳10⁶ terms) that the full
    * pushed-down length-window scan it replaces dominates. Below the gate the
    * plain scan wins AT EVERY LAYOUT — a stored `termgrams/` directory only
    * removes the one-time derivation cost, not the per-query stages
    * (measured: stored-grams route 0.32 s vs 0.13 s plain scan on a ~10⁴-term
    * dictionary at sf0.1). Above it, the stored layout serves the grams with
    * pushed-down point reads and the derived path persists them once.
    * Tunable for tests and unusual corpora.
    */
  var fuzzyGramMinDictSize: Long = 1000000L

  // one count job, memoized; parquet-backed dictionaries answer from footer
  // metadata. Consulted on EVERY fuzzy query regardless of grams layout —
  // the size gate applies uniformly, so a loaded stored-grams index also
  // pays this one-time count on its first fuzzy query.
  private lazy val dictTermCount: Long = index.termDict.count()

  /** Dictionary view narrowed by the q-gram count filter: a term within
    * (restricted-Damerau) distance k of `q` loses at most q+1 = 4 gram
    * occurrences per edit (a transposition spans 4 padded trigrams; other
    * edits 3), so it must share ≥ |grams(q)| − 4k of q's distinct grams —
    * terms below the threshold are provably outside the distance and never
    * reach the O(|a|·|b|) distance computation. Lucene walks a Levenshtein
    * automaton over the FST in O(matches); this is the equivalent
    * set-algebra prune: candidates come from |grams(q)| posting-list
    * lookups instead of a dictionary scan. When the threshold is
    * non-positive (short queries — bench-corpus scale), the filter is
    * vacuous and the full length-window scan remains (already cheap there).
    */
  private def fuzzyPrefiltered(field: String, q: String, maxEdits: Int): DataFrame = {
    val qg = Searcher.padGrams(q)
    val t = qg.length - 4 * maxEdits
    // size-gated regardless of layout — see fuzzyGramMinDictSize
    val gramsWorthIt = dictTermCount >= fuzzyGramMinDictSize
    if (t < 1 || !gramsWorthIt) index.termDict
    else {
      val cand = termGrams
        .filter(col("field") === field && col("gram").isin(qg: _*))
        .groupBy("field", "term").agg(org.apache.spark.sql.functions.count(lit(1)).as("__g"))
        .filter(col("__g") >= t)
        .select("field", "term")
      index.termDict.join(cand, Seq("field", "term"), "left_semi")
    }
  }

  def wildcardToRegex(pat: String): String = {
    val sb = new StringBuilder("^")
    pat.foreach {
      case '*' => sb.append(".*")
      case '?' => sb.append('.')
      case c if "\\.[]{}()<>+-=!$^|,".indexOf(c) >= 0 => sb.append('\\').append(c)
      case c => sb.append(c)
    }
    sb.append('$').toString
  }

  /** Pure term-conjunction fast path: MUST/FILTER Terms of one field (plus
    * optional MUST_NOT anything). The generic boolean path below would union
    * the FULL postings of every clause into the aggregate — for
    * `rare AND the`, the hot term's postings shuffle in their entirety even
    * though only docs containing `rare` can match. Here the compressed
    * blocks are pruned to the rarest term's salt buckets, co-partitioned by
    * bucket, and merge-intersected rarest-first with score-only decode —
    * the conjunctive twin of the phrase path.
    */
  private def evalTermConjunction(field: String, mustTerms: Seq[String],
      filterTerms: Seq[String], notQueries: Seq[Query] = Nil): DataFrame = {
    val st = index.fieldStats.getOrElse(field, return emptyMatches)
    val mustCounts = mustTerms.groupBy(identity).view.mapValues(_.size).toMap
    val distinct = (mustTerms ++ filterTerms).distinct
    val stats = termStats(field, distinct)
    if (distinct.exists(!stats.contains(_))) return emptyMatches
    val order = distinct.sortBy(t => (stats(t)._1, t))
    // duplicate MUST clauses sum like Lucene's BooleanQuery (idf × count)
    val weights: Map[String, Double] = distinct.map { t =>
      t -> mustCounts.getOrElse(t, 0) * Bm25.idf(st.docCount, stats(t)._1)
    }.toMap
    val prune = rareCoveragePruner(field, order.head)
    val ord = order.toArray
    val avgdl = st.avgdl
    val base = bucketBlocks(order.map((field, _)), prune, withPositions = false)
      .mapPartitions(it => Conjunction.scorePartition(ord, weights, avgdl, it))
      .toDF("docId", "score")
    // MUST_NOT anti-joins run docIds-only (no freq/norm decode) and — for
    // same-field terms — against blocks pruned to the rare coverage: docs
    // outside it cannot appear in `base`, so `rare AND NOT the` never decodes
    // the bulk of `the`'s postings.
    notQueries.foldLeft(base) { (d, nq) =>
      val notIds = nq match {
        case Term(f, t) if f == field => docIdsOf(f, t, prune)
        case Term(f, t)               => docIdsOf(f, t, identity)
        case other                    => evalInner(other).select("docId")
      }
      d.join(notIds, Seq("docId"), "left_anti")
    }
  }

  /** docId-only postings decode (docsBlob alone — no freqs/norms read). */
  private def docIdsOf(field: String, term: String,
      prune: DataFrame => DataFrame): DataFrame =
    prune(index.blocks.filter(col("field") === field && col("term") === term)
        .select(col("firstDocId"), col("lastDocId"), col("numDocs"), col("docsBlob")))
      .select(col("firstDocId"), col("numDocs"), col("docsBlob"))
      .as[(Long, Int, Array[Byte])]
      .flatMap { case (f, n, d) => PostingCodec.decodeDocIds(f, n, d) }
      .toDF("docId")

  /** Driver-collect cap for rare-term block ranges (the literal-pushdown
    * pruning path); above it [[rareCoveragePruner]] degrades to the
    * distributed bucket semi-join. Test-visible so specs can force the
    * fallback plan.
    */
  private[graft] var maxRareDriverBlocks = 4096

  /** Memoized per (field, term): the rare term's block ranges are immutable
    * for an index view, so repeated conjunctive/positional queries skip the
    * bounded driver fetch (bust the cache by constructing a new Searcher —
    * which every index mutation already does).
    */
  private val prunerCache =
    scala.collection.concurrent.TrieMap.empty[(String, String, Int), DataFrame => DataFrame]

  /** Block pruner from the rarest term's docId coverage, shared by the
    * conjunctive and positional paths. The rare term's (firstDocId,
    * lastDocId) block ranges are collected when few (bounded driver fetch),
    * merged, and pushed down as LITERAL range predicates — wider terms'
    * blocks outside every rare range prune at the parquet scan via min/max
    * stats, with no extra job and no shuffle. Collecting is sound at scale:
    * a term with df 10⁶ spans ≤ df/128 blocks; genuinely hot-everywhere
    * "rare" terms overflow the cap and degrade to the distributed
    * bucket semi-join (the round-2 plan). Range pruning is strictly finer
    * than bucket pruning: blocks never span a salt bucket, and only
    * touching/overlapping ranges merge, so the merged set covers exactly the
    * rare term's blocks' union.
    */
  private def rareCoveragePruner(field: String, rareTerm: String): DataFrame => DataFrame = {
    if (prunerCache.size > 4096) // bounded driver memory: shed half, keep a warm set
      prunerCache.keysIterator.take(prunerCache.size / 2).foreach(prunerCache.remove)
    prunerCache.getOrElseUpdate((field, rareTerm, maxRareDriverBlocks),
      computeRarePruner(field, rareTerm))
  }

  private def computeRarePruner(field: String, rareTerm: String): DataFrame => DataFrame = {
    val maxDriverBlocks = maxRareDriverBlocks
    val few = index.blocks
      .filter(col("field") === field && col("term") === rareTerm)
      .select(col("firstDocId"), col("lastDocId"))
      .as[(Long, Long)].take(maxDriverBlocks + 1)
    if (few.length <= maxDriverBlocks) {
      val merged = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      few.sortBy(_._1).foreach { case (f, l) =>
        if (merged.nonEmpty && f <= merged.last._2 + 1)
          merged(merged.length - 1) = (merged.last._1, math.max(merged.last._2, l))
        else merged += ((f, l))
      }
      if (merged.isEmpty) (wide: DataFrame) => wide.limit(0)
      else if (merged.length <= 256) {
        val cond = merged.map { case (f, l) =>
          col("lastDocId") >= f && col("firstDocId") <= l
        }.reduce(_ || _)
        (wide: DataFrame) => wide.filter(cond)
      } else {
        // too many ranges for an OR chain: literal bucket InSet instead
        val bkts = merged.flatMap { case (f, l) =>
          (f >> graft.index.IndexBuilder.SaltShift) to (l >> graft.index.IndexBuilder.SaltShift)
        }.distinct
        (wide: DataFrame) => wide.filter(Searcher.saltBucket.isin(bkts.toSeq: _*))
      }
    } else {
      val bucket = Searcher.saltBucket
      val rareBuckets = index.blocks
        .filter(col("field") === field && col("term") === rareTerm)
        .select(bucket.as("__bkt")).distinct()
      (wide: DataFrame) => wide.join(rareBuckets, bucket === col("__bkt"), "left_semi")
    }
  }

  /** Boolean algebra in ONE hash-aggregate: tag each clause's matches with
    * (score, isMust, isNot) and group by docId — no join cascade, map-side
    * partial aggregation defuses hot-doc skew.
    */
  private def evalBool(clauses: Seq[(Occur.Value, Query)]): DataFrame = {
    if (clauses.isEmpty) return emptyMatches
    // Route ALL-positive-term-conjunctions (≥2 clauses, one field, no SHOULD)
    // through the merge-intersect fast path; MUST_NOT clauses anti-join after.
    val positives = clauses.filter(c => c._1 == Occur.Must || c._1 == Occur.Filter)
    val posTerms = positives.collect { case (o, Term(f, t)) => (o, f, t) }
    if (!clauses.exists(_._1 == Occur.Should) && positives.length >= 2 &&
        posTerms.length == positives.length && posTerms.map(_._2).distinct.length == 1) {
      val field = posTerms.head._2
      return evalTermConjunction(field,
        posTerms.collect { case (Occur.Must, _, t) => t },
        posTerms.collect { case (Occur.Filter, _, t) => t },
        clauses.collect { case (Occur.MustNot, q) => q })
    }
    val numRequired = clauses.count(c => c._1 == Occur.Must || c._1 == Occur.Filter)
    // ONE dictionary lookup for all direct Term clauses (instead of one
    // driver round-trip per term)
    val directTerms = clauses.collect { case (_, Term(f, t)) => (f, t) }.distinct
    val dfByTerm: Map[(String, String), Long] = directTerms.groupBy(_._1).flatMap {
      case (f, fts) => termStats(f, fts.map(_._2)).map { case (t, (df, _)) => (f, t) -> df }
    }
    val parts = clauses.map { case (occur, sub) =>
      val m = sub match {
        case Term(f, t) => evalTerm(f, t, 1.0, dfByTerm.getOrElse((f, t), 0L))
        case _          => evalInner(sub)
      }
      occur match {
        case Occur.Should  => m.select(col("docId"), col("score"), lit(0L).as("m"), lit(0L).as("n"))
        case Occur.Must    => m.select(col("docId"), col("score"), lit(1L).as("m"), lit(0L).as("n"))
        case Occur.Filter  => m.select(col("docId"), lit(0.0).as("score"), lit(1L).as("m"), lit(0L).as("n"))
        case Occur.MustNot => m.select(col("docId"), lit(0.0).as("score"), lit(0L).as("m"), lit(1L).as("n"))
      }
    }
    parts.reduce(_ unionAll _)
      .groupBy("docId")
      .agg(sum("score").as("score"), sum("m").as("m"), sum("n").as("n"))
      .filter(col("m") === numRequired && col("n") === 0L)
      .select("docId", "score")
  }

  // ------------------------------------------------------------ positional

  /** Positional queries need a positions-indexed text field (clear driver
    * error instead of an executor NPE, like Lucene's IllegalStateException).
    */
  private def requirePositions(field: String): Unit =
    index.schema.fields.get(field) match {
      case Some(graft.index.TextField(_, true, _)) => ()
      case other => throw new IllegalArgumentException(
        s"field '$field' is not indexed with positions (config: $other) — " +
          "phrase/near/spans queries need TextField(positions = true)")
    }

  /** Co-partitioned positional evaluation — the phrase/near/span workhorse.
    *
    * Per-doc per-key position lists for docs containing ALL `required` keys
    * (rarest-first), as (docId, dlq, lists) with lists in
    * `required ++ optional` order; `optional` keys (span-Or branches,
    * Not-excludes) attach to surviving docs. Only COMPRESSED blocks shuffle,
    * never decoded postings of `the`-class hot terms:
    *  1. rare-coverage pruning drops whole blocks of the wider keys before
    *     anything shuffles or decodes (see [[rareCoveragePruner]]);
    *  2. one narrow shuffle of the surviving COMPRESSED blocks
    *     ([[bucketBlocks]]);
    *  3. per partition, [[PhraseMatcher.intersectKeyed]]: a wider key's block
    *     is never decoded unless its docId range still holds a candidate.
    * With no required keys (pure disjunction) every key's blocks shuffle —
    * no pruning is sound.
    */
  private def positionalMatchesKeys(required: Seq[(String, String)], optional: Seq[(String, String)],
      dlqField: String): Dataset[(Long, Int, Array[Array[Int]])] = {
    val prune = required.headOption.fold[DataFrame => DataFrame](identity) {
      case (rf, rt) => rareCoveragePruner(rf, rt)
    }
    val req = required.toArray
    val opt = optional.toArray
    bucketBlocks(required ++ optional, prune, withPositions = true)
      .mapPartitions(it => PhraseMatcher.intersectKeyed(req, opt, dlqField, it))
  }

  /** The one salt-bucket exchange behind WAND, term conjunction and
    * positional matching: the blocks of `keys`, pruned, then ONE hash
    * exchange on `firstDocId >>> SaltShift`, so each partition holds whole
    * buckets of every key (blocks never span one) and the kernels run with
    * no further shuffle. Score-only routes (single field) project away the
    * position/payload/offset blobs — often the widest columns — before the
    * exchange, so parquet never reads them, and rebuild the blocks after it;
    * `coShuffled` rows in that 10-column layout (WAND's tombstones beyond
    * the broadcast cap) ride the same exchange.
    */
  private def bucketBlocks(keys: Seq[(String, String)], prune: DataFrame => DataFrame,
      withPositions: Boolean, coShuffled: Option[DataFrame] = None): Dataset[PostingBlock] = {
    val fields = keys.map(_._1).distinct
    val cond = fields.map { f =>
      col("field") === f && col("term").isin(keys.filter(_._1 == f).map(_._2).distinct: _*)
    }.reduce(_ || _)
    val blocks = prune(index.blocks.filter(cond).toDF())
    val parts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    if (withPositions) return blocks.repartition(parts, Searcher.saltBucket).as[PostingBlock]
    require(fields.length == 1, s"score-only blocks carry no field column: $fields")
    val field = fields.head
    val scoreCols = blocks.select(col("term"), col("firstDocId"), col("lastDocId"),
      col("numDocs"), col("maxTf"), col("sumTf"), col("minDlq"),
      col("docsBlob"), col("freqsBlob"), col("normsBlob"))
    coShuffled.fold(scoreCols)(scoreCols.unionAll)
      .repartition(parts, Searcher.saltBucket)
      .as[(String, Long, Long, Int, Int, Long, Int, Array[Byte], Array[Byte], Array[Byte])]
      .map(t => PostingBlock(field, t._1, t._2, t._3, t._4, t._5, t._6, t._7,
        t._8, t._9, t._10, Array.empty[Byte]))
  }

  /** (distinct terms rarest-first, their stats) or None when any term is
    * absent (conjunctive positional queries then match nothing).
    */
  private def positionalPlan(field: String, terms: Seq[String]): Option[(Seq[String], Map[String, (Long, Long)])] = {
    requirePositions(field)
    val distinct = terms.distinct
    val stats = termStats(field, distinct)
    if (distinct.exists(!stats.contains(_))) None
    else Some((distinct.sortBy(t => (stats(t)._1, t)), stats))
  }

  private def evalPhrase(p: Phrase): DataFrame = {
    // position placeholders (None) shift subsequent term offsets
    val withOffsets = p.terms.zipWithIndex.collect { case (Some(t), i) => (t, i) }
    if (withOffsets.isEmpty) return emptyMatches
    val field = p.field
    val st = index.fieldStats.getOrElse(field, return emptyMatches)
    val (dfOrder, stats) = positionalPlan(field, withOffsets.map(_._1)).getOrElse(return emptyMatches)
    val sumWeight = withOffsets.map { case (t, _) => Bm25.idf(st.docCount, stats(t)._1) }.sum
    // lists pre-shifted by -offset so an exact match is an equal value
    val slot = dfOrder.zipWithIndex.toMap
    val offs: Array[(Int, Int)] = withOffsets.map { case (t, off) => (slot(t), off) }.toArray
    val so = p.slop
    val slotTerms = offs.map(_._1)
    val slotOffsets = offs.map(_._2)
    scorePositional(dfOrder.map((field, _)), Nil, field, sumWeight, st.avgdl) { lists =>
      val shifted = offs.map { case (s, off) => lists(s).map(_ - off) }
      PhraseMatcher.phraseFreq(shifted, so, slotOffsets, slotTerms)
    }
  }

  private def evalNear(q: Near): DataFrame = {
    val field = q.field
    val st = index.fieldStats.getOrElse(field, return emptyMatches)
    val (dfOrder, stats) = positionalPlan(field, q.terms).getOrElse(return emptyMatches)
    val sumWeight = q.terms.map(t => Bm25.idf(st.docCount, stats(t)._1)).sum
    val slot = dfOrder.zipWithIndex.toMap
    val slots: Array[Int] = q.terms.map(slot(_)).toArray
    val so = q.slop
    val io = q.inOrder
    scorePositional(dfOrder.map((field, _)), Nil, field, sumWeight, st.avgdl)(lists =>
      PhraseMatcher.nearFreq(slots.map(lists(_)), so, io))
  }

  /** BM25 over positional matches: `freq` turns a doc's position lists into
    * its (sloppy) frequency; docs whose frequency is 0 do not match.
    */
  private def scorePositional(required: Seq[(String, String)], optional: Seq[(String, String)],
      dlqField: String, weight: Double, avgdl: Double)(freq: Array[Array[Int]] => Double): DataFrame =
    positionalMatchesKeys(required, optional, dlqField)
      .map { case (docId, dlq, lists) => (docId, freq(lists), dlq) }
      .filter(_._2 > 0.0)
      .toDF("docId", "freq", "dlq")
      .select(col("docId"), Bm25.scoreCol(col("freq"), col("dlq"), weight, avgdl).as("score"))

  // ------------------------------------------------------------ span algebra

  /** Plan a span query: (required keys rarest-first, optional keys, slot map,
    * summed idf weight). None ⇒ provably no matches (a required leaf has
    * df 0 or an unknown field).
    */
  private def spanPlan(sq: SpanQ): Option[(Seq[(String, String)], Seq[(String, String)], Map[(String, String), Int], Double)] = {
    val leaves = SpanQ.leaves(sq).distinct
    leaves.map(_._1).distinct.foreach(requirePositions)
    val statsByField: Map[String, Map[String, (Long, Long)]] =
      leaves.groupBy(_._1).map { case (f, fts) => f -> termStats(f, fts.map(_._2).distinct) }
    def df(l: (String, String)): Long = statsByField(l._1).getOrElse(l._2, (0L, 0L))._1
    val requiredSet = SpanQ.requiredLeaves(sq)
    if (requiredSet.exists(df(_) == 0)) return None
    val required = requiredSet.toSeq.sortBy(l => (df(l), l._1, l._2))
    val optional = leaves.filterNot(requiredSet.contains)
    if (required.isEmpty && optional.forall(df(_) == 0)) return None
    val slotOf = (required ++ optional).zipWithIndex.toMap
    // SpanWeight.buildSimWeight sums the similarity weight over ALL terms in
    // the tree (each against its own field's stats)
    val w = leaves.map { l =>
      val d = df(l)
      index.fieldStats.get(l._1) match {
        case Some(fs) if d > 0 => Bm25.idf(fs.docCount, d)
        case _                 => 0.0
      }
    }.sum
    Some((required, optional, slotOf, w))
  }

  /** Span matches per doc: (docId, [(start, end)…]) — the generic form of
    * the Near-only `spans` (reference IndexSearcher.spans with a composed
    * SpanQuery, indexers.py:354-376).
    */
  def spans(sq: SpanQ): DataFrame = {
    val (required, optional, slotOf, _) = spanPlan(sq)
      .getOrElse(return spark.emptyDataset[(Long, Array[(Int, Int)])].toDF("docId", "spans"))
    val tree = sq
    positionalMatchesKeys(required, optional, sq.field)
      .map { case (docId, _, lists) =>
        (docId, SpanEval.eval(tree, slotOf, lists).map(s => (s._1, s._2)))
      }
      .filter(_._2.nonEmpty)
      .toDF("docId", "spans")
  }

  /** Score a span query: freq = Σ 1/(1+slack) over matches (SpanScorer
    * shape, identical to the Near scorer on term spans), weight = summed
    * leaf idf, norms from the span's outer field.
    */
  private def evalSpan(sq: SpanQ): DataFrame = {
    val st = index.fieldStats.getOrElse(sq.field, return emptyMatches)
    val (required, optional, slotOf, w) = spanPlan(sq).getOrElse(return emptyMatches)
    val tree = sq
    scorePositional(required, optional, sq.field, w, st.avgdl)(lists =>
      SpanEval.freq(SpanEval.eval(tree, slotOf, lists)))
  }

  // ----------------------------------------------------------------- search

  /** When true, pure term-disjunction top-k routes through the block-max
    * WAND evaluator instead of exhaustive scoring (rank-identical; prunes
    * non-competitive blocks undecoded).
    */
  var wandEnabled = true

  /** Blocks DECODED by WAND executions (pruning evidence: compare against
    * the query terms' total block count). Accumulates across queries;
    * `reset()` before a measurement.
    */
  lazy val wandDecoded: org.apache.spark.util.LongAccumulator =
    spark.sparkContext.longAccumulator("graft.wandDecodedBlocks")

  /** Largest tombstone set WAND will broadcast as a liveDocs filter — the
    * in-memory analogue of Lucene's per-segment liveDocs bitsets (8 bytes ×
    * 4M ≈ 32 MB, comfortably under executor broadcast budgets). Beyond it
    * WAND still runs: the delete table CO-SHUFFLES with the posting blocks
    * on the same docId salt bucket (one narrow docId-only exchange per
    * query) and each partition assembles its own sorted liveDocs — no
    * driver collect, no ceiling. The broadcast path stays preferred under
    * the cap because its one-time collect amortizes across every query on
    * this searcher; `forceMergeDeletes()`+`vacuumDeletes()` remain the
    * operational pressure valve that restores it.
    *
    * LATCHES on the first search (the liveDocs set is computed once per
    * searcher, like a Lucene reader pinning its .liv bits): assigning it
    * after any query is an error, not a silent no-op (advisor r5).
    */
  def wandMaxTombstones: Int = wandMaxTombstones0
  // synchronized on `this` — the SAME monitor the lazy-val initializer below
  // holds while it runs (Scala lazy vals initialize inside synchronized(this)),
  // so a setter racing a first search either completes before the initializer
  // reads the cap, or blocks until initialization finishes and then THROWS on
  // the latch — never a silently-ignored assignment (advisor r6)
  def wandMaxTombstones_=(v: Int): Unit = this.synchronized {
    require(!wandTombstonesLatched,
      "wandMaxTombstones latches on the first search — set it before querying " +
        "(or open a fresh Searcher on the index)")
    wandMaxTombstones0 = v
  }
  private var wandMaxTombstones0: Int = 4 << 20
  private var wandTombstonesLatched = false

  /** Sorted tombstoned docIds for the WAND cursors (None = no deletes OR the
    * set overflowed the broadcast cap — [[wandPartitions]] then ships the
    * deletes through the block shuffle instead). Deletes are immutable per
    * Index instance, so one collect+sort+broadcast serves every query on
    * this searcher (Lucene NRT readers likewise pin liveDocs per reader).
    */
  private lazy val (wandTombstones, wandTombstonesOverflow):
      (Option[org.apache.spark.broadcast.Broadcast[Array[Long]]], Boolean) = {
    wandTombstonesLatched = true
    index.deletes match {
      case None => (None, false)
      case Some(d) =>
        val ids = d.select(col("docId").cast("long")).distinct()
          .limit(wandMaxTombstones0 + 1).as[Long].collect()
        if (ids.length > wandMaxTombstones0) (None, true)
        else {
          java.util.Arrays.sort(ids)
          (Some(spark.sparkContext.broadcast(ids)), false)
        }
    }
  }

  /** Match a query shape WAND can serve — returns (field, weighted terms,
    * tie): SHOULD-only boolean over Terms of one field (with optional
    * boosts) or a bare (possibly boosted) Term, both with tie = 1.0 (the
    * plain score sum); or a DisjunctionMax over such terms with its
    * tieBreaker as the combiner — DisMax's max + tie·(sum − max) has the
    * same max/sum monotonicity BMW's bound algebra needs, so the one
    * evaluator serves both (Lucene likewise gives DisjunctionMaxQuery a
    * WAND-capable DisjunctionMaxScorer). The single-cursor case is Lucene's
    * single-term impacts/BMW: non-competitive blocks of a hot term skip
    * undecoded via (maxTf, minDlq) bounds.
    */
  private def wandable(q: Query,
      boost: Double = 1.0): Option[(String, Seq[(String, Double)], Double)] =
    q match {
      case Term(f, t) => Some((f, Seq((t, boost)), 1.0))
      case Bool(clauses) if clauses.nonEmpty && clauses.forall(_._1 == Occur.Should) =>
        sameFieldTerms(clauses.map(_._2), boost).map { case (f, ts) => (f, ts, 1.0) }
      case DisMax(tie, ds) if ds.nonEmpty && tie >= 0.0 && tie <= 1.0 =>
        sameFieldTerms(ds, boost).map { case (f, ts) => (f, ts, tie) }
      case Boost(sub, b) => wandable(sub, boost * b)
      case _             => None
    }

  private def sameFieldTerms(qs: Seq[Query],
      boost: Double): Option[(String, Seq[(String, Double)])] = {
    val terms = qs.map {
      case Term(f, t)           => Some((f, t, boost))
      case Boost(Term(f, t), b) => Some((f, t, boost * b))
      case _                    => None
    }
    if (terms.exists(_.isEmpty)) None
    else {
      val ts = terms.flatten
      if (ts.map(_._1).distinct.length == 1) Some((ts.head._1, ts.map(x => (x._2, x._3))))
      else None
    }
  }

  /** Block-max WAND top-k over a weighted term disjunction: blocks of the
    * query terms are co-partitioned by docId salt bucket (blocks never span
    * one), each partition runs document-at-a-time BMW keeping k candidates,
    * and a global TakeOrdered merges — one narrow shuffle of blocks, no
    * groupBy, non-competitive blocks never decoded.
    */
  def searchWand(field: String, weightedTerms: Seq[(String, Double)], k: Int,
      tie: Double = 1.0): DataFrame = {
    bm25Weights(field, weightedTerms) match {
      case None => emptyMatches
      case Some((weights, avgdl)) =>
        wandPartitions(field, weights, avgdl, k, tie)
          .flatMap { case (ids, scores, _, _) => ids.zip(scores) }
          .toDF("docId", "score")
          .orderBy(col("score").desc, col("docId").asc)
          .limit(k)
    }
  }

  /** Resolve a weighted term disjunction to BM25 weights (boost × idf);
    * None when the field or every term is absent.
    */
  private def bm25Weights(field: String,
      weightedTerms: Seq[(String, Double)]): Option[(Seq[(String, Double)], Double)] = {
    val st = index.fieldStats.getOrElse(field, return None)
    val stats = termStats(field, weightedTerms.map(_._1))
    val weights: Seq[(String, Double)] = weightedTerms.flatMap { case (t, b) =>
      stats.get(t).map { case (df, _) => t -> b * Bm25.idf(st.docCount, df) }
    }
    if (weights.isEmpty) None else Some((weights, st.avgdl))
  }

  /** Per-partition WAND results: (top-k docIds, their scores, docs scored,
    * pruned?) — one row per salt-bucket partition. [[searchWand]] flattens
    * the tops; [[searchHits]] also folds the count accounting.
    */
  private def wandPartitions(field: String, weights: Seq[(String, Double)], avgdl: Double,
      k: Int, tie: Double = 1.0):
      org.apache.spark.sql.Dataset[(Array[Long], Array[Double], Long, Boolean)] = {
    val acc = wandDecoded // local val: the closure must not capture `this`
    val tomb = wandTombstones.orNull // Broadcast is serializable; `this` is not shipped
    // Broadcast-cap overflow: the deletes CO-SHUFFLE with the blocks on the
    // same salt bucket (blocks never span one), tagged numDocs = -1 — a real
    // block always has numDocs >= 1. One narrow (docId-only) exchange per
    // query instead of a driver collect; each partition then sees exactly
    // the tombstones its docId range can contain.
    val coShuffledTombs = if (!wandTombstonesOverflow) None else Some(index.deletes.get.select(
      lit("").as("term"), col("docId").cast("long").as("firstDocId"),
      col("docId").cast("long").as("lastDocId"), lit(-1).as("numDocs"),
      lit(0).as("maxTf"), lit(0L).as("sumTf"), lit(0).as("minDlq"),
      lit(null).cast("binary").as("docsBlob"), lit(null).cast("binary").as("freqsBlob"),
      lit(null).cast("binary").as("normsBlob")))
    bucketBlocks(weights.map(w => (field, w._1)), identity, withPositions = false, coShuffledTombs)
      .mapPartitions { it =>
        val all = it.toArray
        val (tombRows, blocks) = all.partition(_.numDocs < 0)
        // per-bucket liveDocs from co-shuffled rows: sorted with possible
        // duplicates (the delete table is append-only) — binarySearch still
        // decides
        val sorted =
          if (tomb != null) tomb.value
          else { val ids = tombRows.map(_.firstDocId); java.util.Arrays.sort(ids); ids }
        val deleted: Long => Boolean =
          if (sorted.isEmpty) _ => false
          else d => java.util.Arrays.binarySearch(sorted, d) >= 0
        val byTerm = blocks.groupBy(_.term)
        val termBlocks = weights.map { case (t, w) => (w, byTerm.getOrElse(t, Array.empty)) }
        val r = Wand.topkPartitionFull(termBlocks, avgdl, k, deleted, tie)
        acc.add(r.decodedBlocks)
        Iterator.single((r.top.map(_._1), r.top.map(_._2), r.scoredDocs, r.pruned))
      }
  }

  /** Top-k with Lucene's `TotalHits` surfaced from the ACTUAL top-k path
    * (TopScoreDocCollector semantics; reference `Hits.count` is an int when
    * exact and a float when an estimate, documents.py:350-355): when the
    * WAND route prunes, `total` is the GREATER_THAN_OR_EQUAL lower bound of
    * docs it actually scored — no separate counting job; when nothing was
    * pruned (or the exhaustive route ran), `total` is exact. Per-partition
    * tops are merged on the driver (≤ partitions × k rows — metadata-scale).
    */
  def searchHits(q: Query, k: Int = 10): SearchHits = {
    if (wandEnabled && k > 0) {
      wandable(q).foreach { case (f, wts0, tie) =>
        if (wts0.nonEmpty) {
          val (weights, avgdl) = bm25Weights(f, wts0)
            .getOrElse(return SearchHits(emptyMatches, TotalHits(0, exact = true)))
          val per = wandPartitions(f, weights, avgdl, k, tie).collect()
          val merged = per.flatMap { case (ids, scores, _, _) => ids.zip(scores) }
            .sortBy { case (id, s) => (-s, id) }.take(k).toSeq
          val scored = per.map(_._3).sum
          val pruned = per.exists(_._4)
          // a pruned run implies a full heap somewhere, so matches ≥ k and
          // max(scored, k) remains a valid lower bound
          val total =
            if (!pruned) TotalHits(scored, exact = true)
            else TotalHits(math.max(scored, k.toLong), exact = false)
          val hits = if (merged.isEmpty) emptyMatches else merged.toDF("docId", "score")
          return SearchHits(hits, total)
        }
      }
    }
    SearchHits(search(q, k), TotalHits(count(q), exact = true))
  }

  /** Top-k search (reference IndexSearcher.search, indexers.py:401-432).
    * Relevance: score desc, docId asc (Lucene collector order) →
    * TakeOrderedAndProject. Field sort: join the tiny match set to docvalue
    * columns. `k <= 0` retrieves all hits (count=None semantics).
    */
  def search(q: Query, k: Int = 10, sorts: Seq[SortSpec] = Nil,
      select: Seq[String] = Nil): DataFrame = {
    if (wandEnabled && k > 0 && sorts.isEmpty && select.isEmpty) {
      wandable(q).foreach { case (f, wts, tie) =>
        if (wts.nonEmpty) return searchWand(f, wts, k, tie)
      }
    }
    val m = eval(q)
    val ordering: Seq[Column] =
      if (sorts.isEmpty) Seq(col("score").desc, col("docId").asc)
      else sorts.map(s => if (s.descending) col(s.field).desc else col(s.field).asc) :+ col("docId").asc
    val sortFields = sorts.map(_.field)
    val needed = (sortFields ++ select).distinct.filterNot(_ == "docId")
    val joined =
      if (needed.isEmpty) m
      else m.join(index.docs.select((col("docId") +: needed.map(graft.index.Cols.qcol)): _*), "docId")
    val ranked = joined.orderBy(ordering: _*)
    if (k > 0) ranked.limit(k) else ranked
  }

  def count(q: Query): Long = eval(q).count()

  /** Stored document by id (reference `searcher[id]`, indexers.py Document
    * access): the doc-store row with docvalue updates applied, None for an
    * unknown or tombstoned id. `fields` selects columns (Hits.select-style
    * late materialization); empty = all stored columns.
    */
  def doc(docId: Long, fields: Seq[String] = Nil): Option[org.apache.spark.sql.Row] = {
    if (index.deletes.exists(d => !d.filter(col("docId") === docId).isEmpty)) return None
    val base = index.docs.filter(col("docId") === docId)
    val projected =
      if (fields.isEmpty) base else base.select(fields.map(graft.index.Cols.qcol): _*)
    projected.collect().headOption
  }

  /** Whether a live (non-tombstoned) doc with this id exists (reference
    * `id in searcher`).
    */
  def contains(docId: Long): Boolean = doc(docId, Seq("docId")).isDefined

  /** Register the index tables as temp views so ad-hoc `spark.sql` joins
    * against engine state compose with the query API: `<prefix>_docs` (doc
    * store incl. docvalues), `<prefix>_terms` (dictionary with docFreq /
    * totalTermFreq), `<prefix>_postings` (compressed block metadata —
    * blobs excluded so SELECT * stays cheap).
    */
  def registerViews(prefix: String = "graft"): Unit = {
    index.docs.createOrReplaceTempView(s"${prefix}_docs")
    index.termDict.createOrReplaceTempView(s"${prefix}_terms")
    index.blocks.toDF()
      .select("field", "term", "firstDocId", "lastDocId", "numDocs", "maxTf", "sumTf")
      .createOrReplaceTempView(s"${prefix}_postings")
  }

  /** (docId, value) pairs of an indexed field — docvalues reconstructed from
    * the postings themselves (used for component fields that are not doc
    * columns, e.g. NestedField parts).
    */
  def docTerms(field: String): DataFrame =
    index.blocks.filter(col("field") === field && col("term") =!= "")
      .select(col("term"), col("firstDocId"), col("numDocs"), col("docsBlob"))
      .as[(String, Long, Int, Array[Byte])]
      .flatMap { case (t, f, n, d) => PostingCodec.decodeDocIds(f, n, d).map(t -> _) }
      .toDF("value", "docId")

  /** docId → field value, preferring the doc-store column, else the index. */
  private def fieldValues(field: String): DataFrame =
    if (index.docs.columns.contains(field))
      index.docs.select(col("docId"), graft.index.Cols.qcol(field).as("value"))
    else docTerms(field).select(col("docId"), col("value"))

  /** Per-field value→count of matching docs (facets, indexers.py:434-446). */
  def facets(q: Query, field: String): DataFrame =
    eval(q).join(fieldValues(field), "docId")
      .groupBy("value").agg(org.apache.spark.sql.functions.count(lit(1)).as("cnt"))
      .withColumnRenamed("value", field.replace('.', '_'))

  /** Multi-field facets in ONE pass (the reference's `facets(query,
    * *fields)` form, indexers.py:434-446): the matched docs join the doc
    * store once, (field, value) pairs explode from a literal map, and one
    * hash aggregate counts — N fields cost one shuffle, not N evaluations.
    * Values surface as strings (mixed column types share one column);
    * null-valued groups are kept, like [[facets]]. Fields must be doc-store
    * columns — use [[facets]] for index-reconstructed component fields.
    */
  def facetsMulti(q: Query, fields: Seq[String]): DataFrame = {
    val fs = fields.distinct // duplicate names would collide as map keys
    require(fs.nonEmpty, "facetsMulti needs at least one field")
    val kv = fs.flatMap(f => Seq(lit(f), graft.index.Cols.qcol(f).cast("string")))
    eval(q)
      .join(index.docs.select((col("docId") +: fs.map(graft.index.Cols.qcol)): _*), "docId")
      .select(explode(map(kv: _*)).as(Seq("field", "value")))
      .groupBy("field", "value")
      .agg(org.apache.spark.sql.functions.count(lit(1)).as("cnt"))
  }

  /** Named sub-query intersection counts (facets query_map variant). */
  def facetQueries(q: Query, subs: Map[String, Query]): Map[String, Long] =
    subs.map { case (name, sub) => name -> count(Query.all(q, sub)) }

  /** Top groups by docvalue field with per-group top docs + counts
    * (groupby, indexers.py:448-453; GroupingSearch, documents.py:468-505):
    * `byValue=false` orders groups by their best hit
    * (Lucene relevance group sort incl. docId tie-break); `byValue=true`
    * orders by the group value (Sort(sortfield) mode). `groups <= 0` returns
    * ALL groups (allGroups=True).
    */
  def groupBy(field: String, q: Query, groups: Int = 10, docsPerGroup: Int = 1,
      byValue: Boolean = false): DataFrame = {
    import org.apache.spark.sql.types._
    val scored = eval(q).join(fieldValues(field), "docId")
      .select(col("docId"), col("score"), col("value"))
    // ONE shuffle of the scored docs by group value; each group streams
    // through a BOUNDED top-N heap (docsPerGroup candidates + a count) —
    // no second evaluation of the scored set, no window, no broadcast
    // join-back (the round-2 plan shuffled `scored` twice: group-stats
    // aggregate + per-doc window). A hot group still streams one task, like
    // the window did, but with O(docsPerGroup) memory. Group rank = the
    // group's best (score, docId) hit — Lucene relevance group sort incl.
    // the docId tie-break — or the group value (Sort(sortfield) mode);
    // `groups <= 0` returns ALL groups (allGroups=True). The null-valued
    // group survives by construction (it is just another key).
    val valueType = scored.schema("value").dataType
    val outSchema = StructType(Seq(
      StructField("value", valueType, nullable = true),
      StructField("groupCount", LongType, nullable = false),
      StructField("top", ArrayType(StructType(Seq(
        StructField("docId", LongType, nullable = false),
        StructField("score", DoubleType, nullable = false))), containsNull = false),
        nullable = false)))
    val n = math.max(1, docsPerGroup)
    val perGroup = scored
      .groupByKey(r => if (r.isNullAt(2)) null else Searcher.groupKey(r.get(2)))(
        org.apache.spark.sql.Encoders.STRING)
      .mapGroups { (_, rows) =>
        var value: Any = null
        var gotValue = false
        var count = 0L
        // worst candidate on top: evict when a better (score desc, docId asc)
        // doc arrives
        val pq = scala.collection.mutable.PriorityQueue.empty[(Double, Long)](
          Ordering.by((x: (Double, Long)) => (x._1, -x._2)).reverse)
        rows.foreach { r =>
          if (!gotValue) { value = if (r.isNullAt(2)) null else r.get(2); gotValue = true }
          count += 1
          val cand = (r.getDouble(1), r.getLong(0))
          if (pq.size < n) pq.enqueue(cand)
          else {
            val worst = pq.head
            if (cand._1 > worst._1 || (cand._1 == worst._1 && cand._2 < worst._2)) {
              pq.dequeue()
              pq.enqueue(cand)
            }
          }
        }
        val top = pq.toArray.sortBy(x => (-x._1, x._2)).map(x => Row(x._2, x._1)).toSeq
        Row(value, count, top)
      }(org.apache.spark.sql.Encoders.row(outSchema))
    // whole groups survive the limit (TakeOrdered over one row per group)
    val gord =
      if (byValue) col("value")
      else struct((col("top")(0).getField("score") * -1).as("ns"),
        col("top")(0).getField("docId"))
    val ranked = perGroup.withColumn("__gord", gord).orderBy(col("__gord").asc)
    val limited = if (groups > 0) ranked.limit(groups) else ranked
    limited
      .select(col("value"), col("groupCount"), col("__gord"),
        posexplode(col("top")).as(Seq("pos", "t")))
      .orderBy(col("__gord").asc, col("pos").asc)
      .select(col("value").as(field.replace('.', '_')), col("groupCount"),
        col("t.docId").as("docId"), col("t.score").as("score"),
        (col("pos") + 1).as("rn"))
  }

  /** Tombstone every doc matching the query; returns a searcher over the
    * narrowed index (IndexWriter.delete, indexers.py:578-586).
    */
  def delete(q: Query): Searcher = new Searcher(index.withDeletes(eval(q).select("docId")))

  /** Score ad-hoc queries against ONE in-memory document, Lucene MemoryIndex
    * style (IndexSearcher.match, indexers.py:455-461): single-doc collection
    * stats (N=1, df=1 for present terms, avgdl=dl). No cluster job.
    */
  def matchDoc(doc: Map[String, String], queries: Seq[Query]): Seq[Double] = {
    val analyzed: Map[String, IndexedSeq[graft.analysis.Token]] = doc.map { case (f, text) =>
      index.schema.fields.get(f) match {
        case Some(graft.index.TextField(a, _, _)) => f -> graft.analysis.Analyzers.byName(a).tokens(text)
        case _ => f -> IndexedSeq(graft.analysis.Token(text, 0, 0, text.length))
      }
    }
    def tfOf(f: String, t: String): Int = analyzed.get(f).map(_.count(_.term == t)).getOrElse(0)
    def k(f: String): Double = {
      val dl = analyzed.get(f).map(_.length).getOrElse(0)
      val dlq = graft.util.SmallFloat.quantizeLength(dl)
      if (dl == 0) Bm25.k1 else Bm25.k1 * (1 - Bm25.b + Bm25.b * dlq.toDouble / dl)
    }
    val idf1 = Bm25.idf(1, 1) // single-doc index
    def score(q: Query): Option[Double] = q match {
      case Term(f, t) =>
        val tf = tfOf(f, t)
        if (tf == 0) None else Some(idf1 * tf / (tf + k(f)))
      case Phrase(f, terms, slop) =>
        val slots = terms.zipWithIndex.collect { case (Some(t), i) => (t, i) }
        val lists = slots.map { case (t, i) =>
          analyzed.getOrElse(f, IndexedSeq.empty).filter(_.term == t).map(_.pos - i).toArray
        }
        if (lists.exists(_.isEmpty)) None
        else {
          val termId = slots.map(_._1).distinct.zipWithIndex.toMap
          val freq = PhraseMatcher.phraseFreq(lists.toArray, slop,
            slots.map(_._2).toArray, slots.map(s => termId(s._1)).toArray)
          if (freq == 0) None
          else Some(idf1 * lists.length * freq / (freq + k(f)))
        }
      case Bool(clauses) =>
        val scored = clauses.map { case (o, sub) => (o, score(sub)) }
        val required = scored.collect { case (Occur.Must | Occur.Filter, s) => s }
        if (required.exists(_.isEmpty)) None
        else if (scored.exists { case (o, s) => o == Occur.MustNot && s.isDefined }) None
        else {
          val positive = scored.collect {
            case (Occur.Must, Some(s))   => s
            case (Occur.Should, Some(s)) => s
          }
          if (positive.isEmpty && required.isEmpty) None else Some(positive.sum)
        }
      case Boost(sub, b)  => score(sub).map(_ * b)
      case Constant(sub)  => score(sub).map(_ => 1.0)
      case AllDocs        => Some(1.0)
      case _              => None
    }
    queries.map(q => score(q).getOrElse(0.0))
  }

  /** Forward index of one doc: term → freq (reference termvector,
    * indexers.py:277-287), reconstructed by re-analyzing the stored field.
    */
  def termVector(docId: Long, field: String): Map[String, Int] = {
    val rows = index.docs.filter(col("docId") === docId)
      .select(graft.index.Cols.qcol(field)).collect()
    if (rows.isEmpty || rows(0).isNullAt(0)) Map.empty
    else index.schema.analyzerFor(field).terms(rows(0).getString(0))
      .groupBy(identity).view.mapValues(_.size).toMap
  }

  /** term → ascending positions (or character offsets) of one doc
    * (positionvector, indexers.py:289-297).
    */
  def positionVector(docId: Long, field: String, offsets: Boolean = false): Map[String, Seq[(Int, Int)]] = {
    val rows = index.docs.filter(col("docId") === docId)
      .select(graft.index.Cols.qcol(field)).collect()
    if (rows.isEmpty || rows(0).isNullAt(0)) Map.empty
    else index.schema.analyzerFor(field).tokens(rows(0).getString(0))
      .groupBy(_.term).view.mapValues(_.map(t =>
        if (offsets) (t.startOffset, t.endOffset) else (t.pos, t.pos)).toSeq).toMap
  }

  /** Span matches per doc for a near query: (docId, [(start, end)...])
    * (IndexSearcher.spans, indexers.py:354-376). Routed through the generic
    * span evaluator — Near IS SpanNear over width-1 term spans, on which
    * SpanEval.nearOrdered and the gold-pinned PhraseMatcher walk are
    * identical (and the generic route additionally honors
    * `inOrder = false`, which the old Near-only walk silently ignored).
    */
  def spans(q: Near): DataFrame =
    spans(SpanQ.near(q.terms.map(t => graft.query.Query.span(q.field, t)),
      q.slop, q.inOrder))

  /** Nested-field prefix query: routes to the narrowest component field
    * (NestedField.prefix, documents.py:156-159).
    */
  def nestedPrefix(name: String, value: String): Query = index.schema.fields.get(name) match {
    case Some(graft.index.NestedField(sep)) =>
      val names = name.split(java.util.regex.Pattern.quote(sep))
      val depth = value.split(java.util.regex.Pattern.quote(sep), -1).length - 1
      Prefix((1 to math.min(depth + 1, names.length)).map(i => names.take(i).mkString(sep)).last, value)
    case _ => Prefix(name, value)
  }

  /** Nested-field range query on the narrowest component (documents.py:160-164). */
  def nestedRange(name: String, start: String, stop: String): Query =
    index.schema.fields.get(name) match {
      case Some(graft.index.NestedField(sep)) =>
        val names = name.split(java.util.regex.Pattern.quote(sep))
        val depth = Seq(Option(start), Option(stop)).flatten
          .map(v => v.split(java.util.regex.Pattern.quote(sep), -1).length - 1).max
        TermRange(names.take(math.min(depth + 1, names.length)).mkString(sep),
          Option(start), Option(stop))
      case _ => TermRange(name, Option(start), Option(stop))
    }

  /** Filtered copy: rebuild an index over the matching subset of the source
    * (reference `copy` with query/exclude, indexers.py:60-77,195-218 —
    * docIds re-densify, as after a Lucene merge).
    */
  def copyIndex(q: Query, exclude: Boolean = false): graft.index.Index = {
    val ids = eval(q).select("docId")
    val srcCols = index.docs.columns.filterNot(c => c == "docId" || c.startsWith("__sha256_"))
    val subset = index.docs.join(ids, Seq("docId"), if (exclude) "left_anti" else "left_semi")
      .select(srcCols.map(graft.index.Cols.qcol): _*)
    graft.index.IndexBuilder.build(subset, index.schema)
  }

  // --------------------------------------------------- dictionary/introspect

  /** Ordered term-dictionary slice (reference IndexReader.terms,
    * indexers.py:220-246): prefix scan, range scan, or fuzzy scan.
    * `minPrefix` is the reference's fuzzy `prefix=` knob (FuzzyTermsEnum
    * prefixLength): the first N characters must match exactly — a cheap
    * dictionary-side range narrowing before any distance math.
    */
  def terms(field: String, prefix: String = "", stop: String = null,
      counts: Boolean = false, distance: Int = 0, minPrefix: Int = 0): DataFrame = {
    var td = (if (distance > 0) fuzzyPrefiltered(field, prefix, distance) else index.termDict)
      .filter(col("field") === field && col("term") =!= "")
    td =
      if (distance > 0) // FuzzyTermsEnum semantics: transposition = 1 edit
        td.filter(Searcher.fuzzyCond(prefix, distance, prefixLen = minPrefix, transpositions = true))
      else if (stop != null) td.filter(col("term") >= prefix && col("term") < stop)
      else td.filter(col("term").startsWith(prefix))
    val cols = if (counts) Seq(col("term"), col("docFreq")) else Seq(col("term"))
    td.select(cols: _*).orderBy("term")
  }

  /** Postings of one term with per-doc position lists, optionally with the
    * per-position payload bytes or (start, end) character offsets (reference
    * IndexReader.positions, indexers.py:256-275; payload pinned at
    * tests/test_engine.py:52). Offsets require the field to be indexed with
    * `TextField(offsets = true)`.
    */
  def positions(field: String, term: String, payloads: Boolean = false,
      offsets: Boolean = false): DataFrame = {
    val filtered = index.blocks.filter(col("field") === field && col("term") === term)
    if (offsets)
      filtered.flatMap(b => PostingCodec.decodeBlock(b, withPositions = true, withOffsets = true)
          .map(p => (p.docId,
            if (p.offsets == null) null
            else p.offsets.grouped(2).map(x => (x(0), x(1))).toSeq)))
        .toDF("docId", "offsets")
    else if (payloads)
      filtered.flatMap(b => PostingCodec.decodeBlock(b, withPositions = true, withPayloads = true)
          .map(p => (p.docId, p.positions, if (p.payloads == null) null else p.payloads.toSeq)))
        .toDF("docId", "positions", "payloads")
    else
      filtered.flatMap(b => PostingCodec.decodeBlock(b, withPositions = true)
          .map(p => (p.docId, p.positions)))
        .toDF("docId", "positions")
  }

  /** Quantized per-doc field lengths (norms sidecar: sentinel-term blocks). */
  def docLengths(field: String): DataFrame =
    postings(field, "").toDF().select(col("docId"), col("dlq"))

  /** Per-live-doc docvalues of a column in docId order (reference
    * `searcher.docvalues(name, type)`, tests/test_engine.py:687-693 —
    * string/numeric/array-valued columns all ride the doc store here, so
    * one surface covers binary/numeric/sorted/sorted_set/sorted_numeric).
    * Reflects docvalue-update generations; tombstoned docs are skipped.
    */
  def docvalues(field: String): DataFrame = {
    val base = index.deletes match {
      case None    => index.docs
      case Some(d) => index.docs.join(d, Seq("docId"), "left_anti")
    }
    base.select(col("docId"), graft.index.Cols.qcol(field).as("value")).orderBy("docId")
  }

  /** Autocomplete: top-k prefix terms by docFreq (indexers.py:162-165). */
  def complete(field: String, prefix: String, k: Int = 10): DataFrame =
    index.termDict
      .filter(col("field") === field && col("term").startsWith(prefix) && col("term") =!= "")
      .orderBy(col("docFreq").desc, col("term").asc)
      .select("term", "docFreq").limit(k)

  /** Spell suggestions: DirectSpellChecker-equivalent observable behavior
    * (indexers.py:147-160): same first letter (minPrefix 1), edit distance
    * ≤ maxEdits with transposition = 1 edit (LuceneLevenshteinDistance),
    * ranked by normalized similarity (1 − dist/min(|query|,|term|)) then
    * popularity — pins the reference's `suggest("text","write") ==
    * [writs, writ, written]` ordering. Length-window + first-letter filters
    * run before the distance so a web-scale dictionary scans cheaply.
    */
  def suggest(field: String, value: String, k: Int = 10, maxEdits: Int = 2): DataFrame = {
    val dist = Searcher.damerau(col("term"), lit(value))
    val sim = lit(1.0) - dist.cast("double") /
      least(length(col("term")), lit(value.length)).cast("double")
    fuzzyPrefiltered(field, value, maxEdits)
      .filter(col("field") === field && col("term") =!= "" && col("term") =!= value &&
        Searcher.fuzzyCond(value, maxEdits, prefixLen = 1, transpositions = true))
      .select(col("term"), col("docFreq"), dist.as("dist"), sim.as("sim"))
      .orderBy(col("sim").desc, col("docFreq").desc, col("term").asc)
      .limit(k)
  }

  /** Highlight stored-field text against a query (UDF-friendly). */
  def highlight(q: Query, field: String, text: String, maxPassages: Int = 1): String =
    Highlighter.highlight(index.schema.analyzerFor(field), Highlighter.queryTerms(q, field),
      text, maxPassages)

  /** Column form for batch-highlighting materialized hits
    * (Hits.highlights, documents.py:391-402).
    */
  def highlightCol(q: Query, field: String, maxPassages: Int = 1): Column = {
    val analyzer = index.schema.analyzerFor(field)
    val terms = Highlighter.queryTerms(q, field)
    val mp = maxPassages
    udf((text: String) =>
      if (text == null) null else Highlighter.highlight(analyzer, terms, text, mp))
      .apply(col(field))
  }

  /** Best unwrapped passage(s) for a query — [[Highlighter.bestPassages]]
    * as a column (the oracle-checkable passage-selection half of
    * [[highlightCol]]; multiple passages join on "...", empty string when
    * no passage matches).
    */
  def bestPassageCol(q: Query, field: String, maxPassages: Int = 1): Column = {
    val analyzer = index.schema.analyzerFor(field)
    val terms = Highlighter.queryTerms(q, field)
    val mp = maxPassages
    udf((text: String) =>
      if (text == null) null
      else Highlighter.bestPassages(analyzer, terms, text, mp).mkString("..."))
      .apply(col(field))
  }

  /** Parse a classic query string against a default field; with
    * `spellcheck=true`, unknown terms are rewritten to their top suggestion
    * (SpellParser, /root/reference/lupyne/engine/queries.py:285-312 —
    * fallback to the original term when no suggestion exists, pinned at
    * tests/test_engine.py:225-229).
    */
  def parse(q: String, field: String, op: String = "or", spellcheck: Boolean = false): Query = {
    val parsed = new QueryParser(field, index.schema.analyzerFor(field), op).parse(q)
    if (spellcheck) respell(parsed) else parsed
  }

  /** Multi-field parse with per-field boosts (Analyzer.parse fields/boosts
    * variant, analyzers.py:140-150): Lucene MultiFieldQueryParser semantics —
    * each default-field clause expands to a SHOULD across the fields (so
    * op="and" requires every clause in SOME field, not a whole-query match
    * in one field). Each field's atom analyzes with THAT field's registered
    * analyzer, so the expanded terms exist in the index each clause targets
    * (the reference shares one analyzer across fields; with per-field
    * analyzers that would silently match nothing on the stemmed field).
    */
  def parseMultiField(q: String, fieldBoosts: Map[String, Double], op: String = "or"): Query =
    new QueryParser(fieldBoosts.toSeq.sortBy(_._1),
      (f: String) => index.schema.analyzerFor(f), op).parse(q)

  private def respell(q: Query): Query = q match {
    case Term(f, t) if docFreq(f, t) == 0 =>
      suggest(f, t, 1).collect().headOption.map(r => Term(f, r.getString(0))).getOrElse(q)
    case Phrase(f, terms, slop) =>
      Phrase(f, terms.map {
        case Some(t) if docFreq(f, t) == 0 =>
          Some(suggest(f, t, 1).collect().headOption.map(_.getString(0)).getOrElse(t))
        case other => other
      }, slop)
    case Bool(cs)       => Bool(cs.map { case (o, sub) => (o, respell(sub)) })
    case DisMax(t, ds)  => DisMax(t, ds.map(respell))
    case Boost(sub, b)  => Boost(respell(sub), b)
    case Constant(sub)  => Constant(respell(sub))
    case other          => other
  }

  /** More-like-this (indexers.py:299-311): rank the doc's terms by tf·idf,
    * build an OR query from the top terms.
    */
  def morelikethis(docId: Long, field: String, minTermFreq: Int = 2, minDocFreq: Int = 5,
      maxQueryTerms: Int = 25): Query = {
    if (!index.fieldStats.contains(field)) return NoDocs
    val row = index.docs.filter(col("docId") === docId)
      .select(graft.index.Cols.qcol(field)).collect()
    if (row.isEmpty || row(0).isNullAt(0)) return NoDocs
    morelikethisText(row(0).getString(0), field, minTermFreq, minDocFreq, maxQueryTerms)
  }

  /** More-like-this from RAW TEXT — the reference accepts "document id or
    * text" (indexers.py:299-311: `mlt.like(fields[0], StringReader(doc))`;
    * pinned at tests/test_engine.py:202-206): query-by-example against
    * content that is not in the index. The text analyzes with the field's
    * analyzer and ranks by the same classic MLT tf·idf as the docId form.
    */
  def morelikethisText(text: String, field: String, minTermFreq: Int = 2, minDocFreq: Int = 5,
      maxQueryTerms: Int = 25): Query = {
    val scored = morelikethisTermsText(text, field, minTermFreq, minDocFreq, maxQueryTerms)
    if (scored.isEmpty) NoDocs else Query.any(scored.map(ts => Term(field, ts._1)): _*)
  }

  /** The scored tf·idf term selection behind [[morelikethis]] — exposed so
    * the selection itself (the reference's `interestingTerms` surface) is
    * directly checkable: (term, tf·ln(docCount/df)) ordered by (score desc,
    * term asc), capped at `maxQueryTerms`.
    */
  def morelikethisTerms(docId: Long, field: String, minTermFreq: Int = 2, minDocFreq: Int = 5,
      maxQueryTerms: Int = 25): Seq[(String, Double)] = {
    if (!index.fieldStats.contains(field)) return Seq.empty
    val row = index.docs.filter(col("docId") === docId)
      .select(graft.index.Cols.qcol(field)).collect()
    if (row.isEmpty || row(0).isNullAt(0)) Seq.empty
    else morelikethisTermsText(row(0).getString(0), field, minTermFreq, minDocFreq,
      maxQueryTerms)
  }

  /** Raw-text twin of [[morelikethisTerms]]. */
  def morelikethisTermsText(text: String, field: String, minTermFreq: Int = 2,
      minDocFreq: Int = 5, maxQueryTerms: Int = 25): Seq[(String, Double)] = {
    if (text == null || !index.fieldStats.contains(field)) return Seq.empty
    val analyzer = index.schema.analyzerFor(field)
    val tf = analyzer.terms(text).groupBy(identity).view.mapValues(_.size)
      .filter(_._2 >= minTermFreq).toMap
    if (tf.isEmpty) return Seq.empty
    val stats = termStats(field, tf.keys.toSeq)
    val n = index.fieldStats(field).docCount // guarded above
    tf.toSeq.flatMap { case (t, f) =>
      stats.get(t).filter(_._1 >= minDocFreq).map { case (df, _) =>
        (t, f * math.log(n.toDouble / df)) // classic MLT tf·idf ranking
      }
    }.sortBy { case (t, s) => (-s, t) }.take(maxQueryTerms)
  }

  /** Total hit count with its exact-vs-estimate relation (Lucene TotalHits;
    * the reference surfaces it as `Hits.count` being an int when the
    * relation is EQUAL_TO and a float when it is an estimate,
    * documents.py:350-355). `threshold <= 0` counts exhaustively (exact —
    * today's `count()` contract). Otherwise counting early-terminates once
    * `threshold` hits are seen (a LocalLimit each partition stops at, the
    * distributed analog of Lucene's collector threshold) and reports a
    * GREATER_THAN_OR_EQUAL lower bound.
    */
  def totalHits(q: Query, threshold: Long = 1000): TotalHits = {
    if (threshold <= 0) return TotalHits(count(q), exact = true)
    val n = eval(q).select("docId")
      .limit(math.min(threshold + 1, Int.MaxValue.toLong).toInt).count()
    if (n > threshold) TotalHits(threshold, exact = false) else TotalHits(n, exact = true)
  }
}

/** Lucene TotalHits parity: `value` is exact when `exact`, else a lower
  * bound (Relation.GREATER_THAN_OR_EQUAL_TO). [[count]] mirrors the
  * reference's dynamic surface — int ⇔ exact, float ⇔ estimate — so code
  * ported from `isinstance(hits.count, float)` checks has an equivalent.
  */
final case class TotalHits(value: Long, exact: Boolean) {
  def count: Any = if (exact) value else value.toDouble
}

/** Top-k hits plus their [[TotalHits]] (the reference's `Hits` pair of
  * scored docs and `count`, documents.py:334-355).
  */
final case class SearchHits(hits: org.apache.spark.sql.DataFrame, total: TotalHits) {
  /** int ⇔ exact, float ⇔ GTE estimate — the reference's dynamic surface. */
  def count: Any = total.count

  /** Max score of the PRESENT hits — not necessarily of all matches — NaN
    * when empty (reference Hits.maxscore, documents.py:382-385). Bounded:
    * aggregates the ≤ k-row hits frame.
    */
  def maxscore: Double = {
    val r = hits.agg(max(col("score"))).collect()(0)
    if (r.isNullAt(0)) Double.NaN else r.getDouble(0)
  }
}

/** Score-only merge-intersect for pure term conjunctions (the executor side
  * of Searcher.evalTermConjunction): [[BlockCursor.intersect]] with
  * (docId, tf, dlq) decode, the BM25 contributions summed in `order` so the
  * partition emits finished (docId, score) rows with no further aggregation.
  */
object Conjunction {

  def scorePartition(order: Array[String], weights: Map[String, Double], avgdl: Double,
      blocks: Iterator[PostingBlock]): Iterator[(Long, Double)] = {
    val byTerm = blocks.toArray.groupBy(_.term)
    if (order.exists(!byTerm.contains(_))) return Iterator.empty
    val ws = order.map(weights)
    BlockCursor.intersect(order.map(byTerm), order.length, withPositions = false).iterator.map { row =>
      var score = Bm25.score(row(0).tf.toDouble, row(0).dlq, ws(0), avgdl)
      var k = 1
      while (k < row.length) { score += Bm25.score(row(k).tf.toDouble, row(k).dlq, ws(k), avgdl); k += 1 }
      (row(0).docId, score)
    }
  }
}

/** Position-list matchers for phrase/near queries. Lists arrive sorted
  * ascending (index order). For phrases the k-th list is pre-shifted by its
  * phrase offset, so an exact phrase occurrence is a common value across all
  * lists; slop allows bounded displacement with Lucene's sloppy weighting
  * freq += 1/(1+matchLength).
  */
object PhraseMatcher {

  /** Per-doc positions of `required ++ optional` keys over one
    * co-partitioned slice of posting blocks (the executor side of
    * Searcher.positionalMatchesKeys), as (docId, dlq, lists) with lists in
    * key order (absent optional key → empty list).
    *
    * `required` keys (rarest-first) intersect via [[BlockCursor.intersect]]
    * and `optional` keys (span-Or branches, Not-excludes) attach to the
    * survivors via [[BlockCursor.skipIntersect]], so a block decodes only
    * when its docId range holds a live candidate. With NO required keys the
    * docs are the union over optional keys (pure span disjunction): a k-way
    * streaming merge of one [[BlockCursor]] per key, each decoding one block
    * at a time — memory O(keys × block), not the partition's postings.
    *
    * `dlqField` picks which field's quantized length rides out for scoring,
    * so cross-field (masked) span queries normalize by the scoring field's
    * norms: the last required key of that field, else the last present
    * optional key of it, else the first key present in the doc.
    */
  def intersectKeyed(required: Array[(String, String)], optional: Array[(String, String)],
      dlqField: String, blocks: Iterator[PostingBlock]): Iterator[(Long, Int, Array[Array[Int]])] = {
    val byKey = blocks.toArray.groupBy(b => (b.field, b.term))
    val keys = required ++ optional
    def blocksOf(key: (String, String)) = byKey.getOrElse(key, Array.empty[PostingBlock])
    val rows: Iterator[Array[Posting]] =
      if (required.nonEmpty) {
        if (required.exists(!byKey.contains(_))) return Iterator.empty
        val matched = BlockCursor.intersect(required.map(byKey), keys.length, withPositions = true)
        for (slot <- required.length until keys.length if matched.nonEmpty)
          BlockCursor.skipIntersect(matched.map(_(0).docId), blocksOf(keys(slot)),
            withPositions = true)((j, p) => matched(j)(slot) = p)
        matched.iterator
      } else {
        val cursors = optional.map { key =>
          val c = new BlockCursor(blocksOf(key), withPositions = true)
          c.next()
          c
        }
        def minDoc = cursors.foldLeft(Long.MaxValue)((m, c) => math.min(m, c.curDoc))
        Iterator.continually(minDoc).takeWhile(_ != Long.MaxValue).map { m =>
          cursors.map { c =>
            if (c.curDoc != m) null else { val p = c.posting; c.next(); p }
          }
        }
      }
    val reqDlq = required.indices.filter(required(_)._1 == dlqField)
    val dlqSlots = (if (reqDlq.nonEmpty) reqDlq
      else optional.indices.filter(optional(_)._1 == dlqField).map(_ + required.length)).reverse
    val empty = Array.empty[Int]
    rows.map { row =>
      val first = row.find(_ != null).get
      val dlq = dlqSlots.collectFirst { case s if row(s) != null => row(s).dlq }.getOrElse(first.dlq)
      (first.docId, dlq, row.map(p => if (p == null || p.positions == null) empty else p.positions))
    }
  }

  /** Exact/sloppy phrase frequency over offset-adjusted position lists
    * (slots assumed distinct-termed, in phrase order). See the 4-arg form
    * for repeated-term phrases.
    */
  def phraseFreq(lists: Array[Array[Int]], slop: Int): Double =
    phraseFreq(lists, slop, Array.tabulate(lists.length)(identity),
      Array.tabulate(lists.length)(identity))

  /** Exact/sloppy phrase frequency. `lists(k)` = positions of phrase slot k
    * MINUS the slot's phrase offset (an exact occurrence is a common value);
    * `slotOffsets(k)` = that offset (repeat-collision detection, pq
    * tie-break); `slotTerms(k)` identifies slots sharing one term.
    */
  def phraseFreq(lists: Array[Array[Int]], slop: Int, slotOffsets: Array[Int],
      slotTerms: Array[Int]): Double =
    if (slop == 0) exactCount(lists).toDouble
    else sloppyFreq(lists, slop, slotOffsets, slotTerms)

  /** Sloppy phrase frequency — a faithful port of the published Lucene
    * SloppyPhraseMatcher/SloppyPhraseScorer.phraseFreq algorithm. Each slot
    * walks its (offset-adjusted) positions; the minimum slot advances; when
    * the advanced slot passes the next-lowest, the minimized window
    * (end − lead) emits a match weighted 1/(1+matchLength) if ≤ slop — so
    * overlapping windows each count, unlike the greedy non-overlapping
    * matcher this replaces. REPEATED terms follow Lucene exactly: same-term
    * slots form repeat groups whose j-th member (by phrase offset) starts on
    * the j-th occurrence, and a collision (two slots on one term occurrence,
    * i.e. equal position+offset) advances the lesser slot until distinct.
    */
  private def sloppyFreq(lists: Array[Array[Int]], slop: Int,
      slotOffsets: Array[Int], slotTerms: Array[Int]): Double = {
    val n = lists.length
    if (n == 0 || lists.exists(_.isEmpty)) return 0.0
    if (n == 1) return lists(0).length.toDouble // every position a 0-length match
    val idx = new Array[Int](n)
    val pos = new Array[Int](n)
    var i = 0
    while (i < n) { pos(i) = lists(i)(0); i += 1 }
    val groupArr: Array[Array[Int]] = slotTerms.zipWithIndex.groupBy(_._1).valuesIterator
      .filter(_.length > 1).map(_.sortBy(x => slotOffsets(x._2)).map(_._2)).toArray
    val groupOf = Array.fill(n)(-1)
    for (g <- groupArr.indices; s <- groupArr(g)) groupOf(s) = g
    var end = Int.MinValue
    def advancePP(s: Int): Boolean = {
      if (idx(s) + 1 >= lists(s).length) false
      else {
        idx(s) += 1
        pos(s) = lists(s)(idx(s))
        if (pos(s) > end) end = pos(s)
        true
      }
    }
    // init: the j-th member of a repeat group starts on its j-th occurrence
    // (Lucene advanceRepeatGroups for simple — single-term — repeats)
    for (g <- groupArr; j <- 1 until g.length; _ <- 0 until j)
      if (!advancePP(g(j))) return 0.0
    i = 0
    while (i < n) { if (pos(i) > end) end = pos(i); i += 1 }
    def less(a: Int, b: Int): Boolean = // PhraseQueue order: (position, offset)
      pos(a) < pos(b) || (pos(a) == pos(b) && slotOffsets(a) < slotOffsets(b))
    def collide(s: Int): Int = { // slot of the same group on the SAME occurrence
      val g = groupArr(groupOf(s))
      var j = 0
      while (j < g.length) {
        if (g(j) != s && pos(g(j)) + slotOffsets(g(j)) == pos(s) + slotOffsets(s))
          return g(j)
        j += 1
      }
      -1
    }
    def advanceRpts(start: Int): Boolean = {
      if (groupOf(start) < 0) return true
      var p = start
      var k = collide(p)
      while (k >= 0) {
        p = if (less(p, k)) p else k // always advance the lesser of the tied pair
        if (!advancePP(p)) return false
        k = collide(p)
      }
      true
    }
    def minSlot(except: Int): Int = {
      var best = -1
      var j = 0
      while (j < n) {
        if (j != except && (best < 0 || less(j, best))) best = j
        j += 1
      }
      best
    }
    val hasRpts = groupArr.nonEmpty
    var freq = 0.0
    var pp = minSlot(-1)
    var matchLength = end - pos(pp)
    var next = pos(minSlot(pp))
    var done = false
    while (!done) {
      if (!advancePP(pp)) done = true
      else if (hasRpts && !advanceRpts(pp)) done = true
      else if (pos(pp) > next) { // done minimizing the current leading window
        if (matchLength <= slop) freq += 1.0 / (1 + matchLength)
        pp = minSlot(-1)
        next = pos(minSlot(pp))
        matchLength = end - pos(pp)
      } else {
        val ml2 = end - pos(pp)
        if (ml2 < matchLength) matchLength = ml2
      }
    }
    if (matchLength <= slop) freq += 1.0 / (1 + matchLength)
    freq
  }

  /** Span-near frequency over raw position lists (SpanNearQuery +
    * SpanScorer semantics): every match weighs 1/(1+slack), slack = span
    * width − #terms. Ordered matches anchor at each first-term position
    * with the minimal increasing chain (NearSpansOrdered); unordered
    * matches enumerate min-start windows, advancing the minimum subspan
    * each step (NearSpansUnordered) — overlapping windows each count.
    */
  def nearFreq(lists: Array[Array[Int]], slop: Int, inOrder: Boolean): Double =
    if (inOrder) orderedNearFreq(lists, slop)
    else unorderedNearFreq(lists, slop)

  /** Unordered-near enumeration: evaluate the current window (one position
    * per list); if its slack fits, count 1/(1+slack); always advance the
    * minimum-position list; stop when it is exhausted — the NearSpansUnordered
    * walk (each composite start position evaluated exactly once).
    */
  private def unorderedNearFreq(lists: Array[Array[Int]], slop: Int): Double = {
    val n = lists.length
    if (n == 0 || lists.exists(_.isEmpty)) return 0.0
    val ptr = new Array[Int](n)
    var freq = 0.0
    var done = false
    while (!done) {
      var minI = 0
      var minStart = Int.MaxValue
      var maxEnd = Int.MinValue
      var i = 0
      while (i < n) {
        val p = lists(i)(ptr(i))
        if (p < minStart) { minStart = p; minI = i }
        if (p + 1 > maxEnd) maxEnd = p + 1
        i += 1
      }
      val slack = maxEnd - minStart - n
      if (slack <= slop) freq += 1.0 / (1 + math.max(0, slack))
      if (ptr(minI) + 1 < lists(minI).length) ptr(minI) += 1 else done = true
    }
    freq
  }

  /** Count values common to all lists (each sorted ascending). */
  private def exactCount(lists: Array[Array[Int]]): Int = {
    val n = lists.length
    val ptr = new Array[Int](n)
    var count = 0
    var done = false
    while (!done) {
      var target = Int.MinValue
      var i = 0
      while (i < n && !done) {
        if (ptr(i) >= lists(i).length) done = true
        else if (lists(i)(ptr(i)) > target) target = lists(i)(ptr(i))
        i += 1
      }
      if (!done) {
        var equal = true
        var j = 0
        while (j < n && !done) {
          while (ptr(j) < lists(j).length && lists(j)(ptr(j)) < target) ptr(j) += 1
          if (ptr(j) >= lists(j).length) done = true
          else if (lists(j)(ptr(j)) != target) equal = false
          j += 1
        }
        if (!done && equal) {
          count += 1
          var k = 0
          while (k < n) { ptr(k) += 1; k += 1 }
        }
      }
    }
    count
  }

  /** Ordered-near frequency: for each first-term position, the greedy
    * minimal increasing chain; a fitting chain contributes 1/(1+slack)
    * (NearSpansOrdered + SpanScorer sloppy weight).
    */
  private def orderedNearFreq(lists: Array[Array[Int]], slop: Int): Double = {
    val n = lists.length
    if (n == 0 || lists.exists(_.isEmpty)) return 0.0
    var freq = 0.0
    val first = lists(0)
    var s = 0
    while (s < first.length) {
      val p0 = first(s)
      var prev = p0
      var ok = true
      var i = 1
      while (i < n && ok) {
        val l = lists(i)
        var j = 0
        while (j < l.length && l(j) <= prev) j += 1
        if (j >= l.length) ok = false else prev = l(j)
        i += 1
      }
      if (ok) {
        val slack = (prev - p0 + 1) - n
        if (slack <= slop) freq += 1.0 / (1 + math.max(0, slack))
      }
      s += 1
    }
    freq
  }

}
