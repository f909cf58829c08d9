package graft.index

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.{ArrayType, StringType}

import graft.analysis.{Analyzer, Analyzers}
import graft.util.SmallFloat

/** Per-field index configuration, mirroring the reference's writer-registered
  * field registry (`IndexWriter.set`, /root/reference/lupyne/engine/indexers.py:538-547;
  * field kinds from /root/reference/lupyne/engine/documents.py:21-124).
  */
sealed trait FieldKind extends Serializable
/** Analyzed full-text field (Field.Text: DOCS_AND_FREQS[_AND_POSITIONS
  * [_AND_OFFSETS]]); `offsets=true` additionally stores per-position
  * character offsets in the postings (reference documents.py:63-64
  * indexOptions, read back by positions(offsets=True), indexers.py:256-275).
  */
final case class TextField(analyzer: String = "standard", positions: Boolean = true,
    offsets: Boolean = false) extends FieldKind
/** Exact, untokenized keyword (Field.String, indexOptions=DOCS, omitNorms). */
case object KeywordField extends FieldKind
/** Hierarchical keyword: indexes every dotted component prefix into its own
  * field — field names come from splitting the column name, values from
  * splitting the value (reference NestedField,
  * /root/reference/lupyne/engine/documents.py:127-164).
  */
final case class NestedField(sep: String = ".") extends FieldKind

/** Index schema: which columns are indexed and how, plus the stable key that
  * defines deterministic docId order (dense rank over `keyColumns` — the
  * tie-break contract of SURVEY.md §4.3). Non-indexed source columns ride
  * along in the doc store as docvalues (Parquet is already columnar).
  */
final case class IndexSchema(keyColumns: Seq[String], fields: Map[String, FieldKind]) {
  def analyzerFor(f: String): Analyzer = fields(f) match {
    case TextField(a, _, _) => Analyzers.byName(a)
    case _               => Analyzers.whitespace // unused; keywords bypass analysis
  }
}

/** Column reference that tolerates dots in source column names. */
object Cols {
  def qcol(name: String): _root_.org.apache.spark.sql.Column =
    if (name.contains(".")) col(s"`$name`") else col(name)
}

/** Collected corpus statistics for one field (Lucene CollectionStatistics):
  * `docCount` = docs holding the field, `sumTotalTermFreq` = total tokens.
  * `avgdl` is exact (not quantized), per BM25Similarity.
  */
final case class FieldStats(docCount: Long, sumTotalTermFreq: Long) {
  def avgdl: Double = if (docCount == 0) 0.0 else sumTotalTermFreq.toDouble / docCount
}

/** Deterministic dense docId assignment at scale: sample the key column ONCE
  * on the driver → fixed range boundaries → broadcast binary-search assigns
  * each row a range bucket → per-bucket counts → driver prefix-sum → local
  * row_number + broadcast offset. No global single-partition window, no RDD
  * zipWithIndex, and — critically — no `repartitionByRange`, whose boundary
  * sampling is re-seeded per execution (fresh RDD ids), which would let the
  * counts job and the ranking job disagree and mint duplicate docIds.
  * docIds are invariant to partitioning (only the global key order matters).
  */
object DocIds {

  /** Unsigned byte-wise UTF-8 comparison — matches Spark's binary string
    * ordering exactly (Java String.compareTo differs on supplementary chars).
    */
  private[index] def byteLess(a: String, b: String): Boolean = {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    val n = math.min(x.length, y.length)
    while (i < n) {
      val c = (x(i) & 0xff) - (y(i) & 0xff)
      if (c != 0) return c < 0
      i += 1
    }
    x.length < y.length
  }

  def assign(df: DataFrame, keyColumns: Seq[String], numPartitions: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    // single sortable key: NUL-joined order-preserving encodings of the key
    // columns order byte-identically to the column tuple (keys must be
    // non-null and NUL-free). Integral/timestamp keys are sign-bit-biased
    // (XOR Long.MinValue) then fixed-width-hex encoded: %016x formats the
    // biased value as unsigned 64-bit hex, so NEGATIVE keys (pre-1970
    // timestamps, negative ids) sort by magnitude too — "%019d" would have
    // put '-…' strings before '0…' regardless of value.
    import org.apache.spark.sql.types._
    def signedHex(c: _root_.org.apache.spark.sql.Column) =
      format_string("%016x", c.bitwiseXOR(lit(Long.MinValue)))
    val sortable = keyColumns.map { k =>
      df.schema(k).dataType match {
        case StringType => col(k)
        case ByteType | ShortType | IntegerType | LongType =>
          signedHex(col(k).cast("long"))
        case TimestampType => signedHex(unix_micros(col(k)))
        case DateType      => signedHex(col(k).cast("long"))
        case _             => col(k).cast("string")
      }
    }
    val keyed = df.withColumn("__key", concat_ws("\u0000", sortable: _*))

    // fixed boundaries from ONE deterministic pass: each input partition
    // returns its row count + a stride-decimated key sample (deterministic —
    // no RNG, no re-sampling across jobs; one source scan instead of the
    // count + sample pair)
    val cap = 512
    // the narrow key projection is persisted so the boundary-sample pass and
    // the bucket-count pass below share ONE scan of the (possibly expensive)
    // source; spill-safe, dropped before the full-width ranking job
    val keysOnly = keyed.select($"__key")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val perPart = keysOnly.as[String].mapPartitions { it =>
      val buf = scala.collection.mutable.ArrayBuffer.empty[String]
      var stride = 1L
      var seen = 0L
      var next = 0L
      it.foreach { k =>
        if (seen == next) {
          if (buf.length >= cap) { // decimate: keep every other, double stride
            val kept = buf.grouped(2).map(_.head).toArray
            buf.clear(); buf ++= kept
            stride *= 2
          }
          buf += k
          next = seen + stride
        }
        seen += 1
      }
      Iterator.single((seen, buf.toArray))
    }.collect()
    val total = perPart.map(_._1).sum
    val sampled = perPart.flatMap(_._2).sortWith(byteLess)
    val boundaries: Array[String] =
      if (sampled.isEmpty || numPartitions <= 1) Array.empty
      else (1 until numPartitions)
        .map(i => sampled(math.min(((i.toLong * sampled.length) / numPartitions).toInt, sampled.length - 1)))
        .distinct.toArray
    val bc = spark.sparkContext.broadcast(boundaries)
    val pidUdf = udf((k: String) => {
      val b = bc.value
      var lo = 0
      var hi = b.length
      while (lo < hi) {
        val m = (lo + hi) >>> 1
        if (byteLess(k, b(m))) hi = m else lo = m + 1
      }
      lo
    })
    val parted = keyed.withColumn("__pid", pidUdf($"__key"))

    // exact rows-per-bucket from the cached keys (no second source scan);
    // pidUdf is deterministic on __key, so these counts match the ranking job
    val counts = keysOnly.select(pidUdf($"__key").as("__pid")).groupBy($"__pid").count()
      .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    keysOnly.unpersist()
    var acc = 0L
    val offsets = counts.map { case (pid, n) => val o = (pid, acc); acc += n; o }
    val offsetsDf = spark.createDataset(offsets.toSeq).toDF("__pid", "__offset")
    val w = Window.partitionBy($"__pid").orderBy($"__key")
    parted
      .join(broadcast(offsetsDf), "__pid")
      .withColumn("docId", row_number().over(w).cast("long") + $"__offset" - 1L)
      .drop("__pid", "__offset", "__key")
  }
}

/** The materialized index: compressed posting blocks + derived term
  * dictionary + the doc store (source rows + docId + content sha256).
  *
  * Table shapes follow SURVEY.md §1.5. The sentinel term "" carries one
  * entry per (doc, field) with tf=0 and the quantized field length — it gives
  * docCount/norms without a second tokenize pass and is excluded from real
  * posting reads.
  */
final class Index(
    val spark: SparkSession,
    val schema: IndexSchema,
    val docs: DataFrame, // source columns + docId + __sha256_<textField>
    val blocks: Dataset[PostingBlock],
    val termDict: DataFrame, // (field, term, docFreq, totalTermFreq)
    val fieldStats: Map[String, FieldStats],
    val deletes: Option[DataFrame] = None, // tombstoned docIds (liveDocs bits)
    // stored trigram candidate index over the dictionary (save() layout);
    // absent => derived lazily by the searcher
    val termGrams: Option[DataFrame] = None
) {
  def numDocs: Long = docs.count()

  /** Live doc count (deletes are tombstones until an expunge/rebuild,
    * mirroring Lucene liveDocs — reference indexers.py:98-109).
    */
  def numLiveDocs: Long = deletes match {
    case None    => numDocs
    case Some(d) => docs.join(d, Seq("docId"), "left_anti").count()
  }

  /** Tombstone additional docIds (reference IndexWriter.delete,
    * indexers.py:578-586): term statistics intentionally keep counting
    * deleted docs until a rebuild, exactly like Lucene before a merge.
    */
  def withDeletes(ids: DataFrame): Index = {
    val all = deletes.map(_.unionByName(ids).distinct()).getOrElse(ids.distinct())
    new Index(spark, schema, docs, blocks, termDict, fieldStats, Some(all))
  }

  /** Append new source rows as a fresh segment: new docIds start past the
    * current max; posting blocks concatenate with no merge pass
    * (IndexWriter.add / __iadd__, indexers.py:559-561,588-592).
    */
  def append(rows: DataFrame): Index = {
    // round up to a salt-bucket multiple: rebased blocks must stay
    // bucket-aligned or WAND's co-partitioning splits docs across partitions
    val maxRow = docs.agg(max(col("docId"))).collect()(0)
    val offset =
      if (maxRow.isNullAt(0)) 0L else IndexBuilder.nextBucketStart(maxRow.getLong(0) + 1)
    val seg = IndexBuilder.build(rows, schema)
    val segDocs = seg.docs.withColumn("docId", col("docId") + offset)
    import spark.implicits._
    val segBlocks = seg.blocks.map(b =>
      b.copy(firstDocId = b.firstDocId + offset, lastDocId = b.lastDocId + offset))
    val newBlocks = blocks.unionAll(segBlocks)
    val stats = (fieldStats.keySet ++ seg.fieldStats.keySet).map { k =>
      val a = fieldStats.getOrElse(k, FieldStats(0, 0))
      val b = seg.fieldStats.getOrElse(k, FieldStats(0, 0))
      k -> FieldStats(a.docCount + b.docCount, a.sumTotalTermFreq + b.sumTotalTermFreq)
    }.toMap
    new Index(spark, schema, docs.unionByName(segDocs), newBlocks,
      IndexBuilder.termDictOf(newBlocks), stats, deletes)
  }

  /** Full integrity check (reference IndexWriter.check, indexers.py:528-536):
    * decode every block, verify monotone docIds and block metadata, and
    * cross-check docFreq/totalTermFreq against the term dictionary.
    * Returns (blocksChecked, postingsChecked); throws on corruption.
    */
  def check(): (Long, Long) = {
    import spark.implicits._
    val perBlock = blocks.map { b =>
      val ps = PostingCodec.decodeBlock(b, withPositions = true)
      require(ps.length == b.numDocs, s"numDocs mismatch in ${b.field}:${b.term}")
      require(ps.head.docId == b.firstDocId && ps.last.docId == b.lastDocId,
        s"skip-pointer mismatch in ${b.field}:${b.term}")
      ps.sliding(2).foreach {
        case Array(a, c) => require(a.docId < c.docId, "non-monotone docIds")
        case _           =>
      }
      require(ps.map(_.tf).max == b.maxTf && ps.map(_.tf.toLong).sum == b.sumTf,
        s"block-max metadata mismatch in ${b.field}:${b.term}")
      (b.field, b.term, b.numDocs.toLong, b.sumTf)
    }.toDF("field", "term", "n", "tf")
    val fromBlocks = perBlock.filter(col("term") =!= "").groupBy("field", "term")
      .agg(sum("n").as("df2"), sum("tf").as("ttf2"))
    val bad = fromBlocks.join(termDict, Seq("field", "term"), "full_outer")
      .filter(col("df2") =!= col("docFreq") || col("ttf2") =!= col("totalTermFreq") ||
        col("df2").isNull || col("docFreq").isNull)
      .count()
    require(bad == 0, s"$bad termDict mismatches")
    (blocks.count(), perBlock.agg(sum("n")).collect()(0).getLong(0))
  }

  /** Pin the working set in memory for repeated queries (small/medium scale;
    * at cluster scale rely on the parquet layout instead).
    */
  def cached(): Index = {
    docs.cache(); blocks.cache(); termDict.cache()
    this
  }

  def save(dir: String): Unit = {
    // Range-layout postings by (field, term) so per-term query filters prune
    // whole files via parquet min/max stats; docs by docId for id lookups.
    //
    // The four table writes are INDEPENDENT (each reads only the build's
    // cached output), so they run CONCURRENTLY from a small driver pool
    // (guide §2.6): Spark schedules jobs FIFO, and each write's straggler
    // tail is back-filled by the next write's tasks instead of idling the
    // executors — measured 2.1 s → ~1.2 s for the sf0.1 save. Failures
    // propagate: any write's exception rethrows at the await.
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutorService(pool)
    try {
      val writes = Seq(
        Future {
          blocks.repartitionByRange(
              blocks.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt,
              col("field"), col("term"), col("firstDocId"))
            .sortWithinPartitions("field", "term", "firstDocId")
            .write.mode("overwrite").parquet(s"$dir/postings")
        },
        Future {
          docs.repartitionByRange(col("docId")).sortWithinPartitions("docId")
            .write.mode("overwrite").parquet(s"$dir/docs")
        },
        Future {
          termDict.repartitionByRange(col("field"), col("term"))
            .sortWithinPartitions("field", "term")
            .write.mode("overwrite").parquet(s"$dir/termdict")
        },
        Future {
          // trigram candidate index for fuzzy/suggest, range-laid-out by
          // (field, gram) so a query's |grams(q)| lookups prune whole files
          // via parquet min/max stats — the serving-grade form of the
          // prefilter the searcher otherwise derives per process
          TermGrams.of(termDict)
            .repartitionByRange(col("field"), col("gram"))
            .sortWithinPartitions("field", "gram")
            .write.mode("overwrite").parquet(s"$dir/termgrams")
        })
      writes.foreach(Await.result(_, Duration.Inf))
    } finally pool.shutdown()
    deletes match {
      case Some(d) => d.write.mode("overwrite").parquet(s"$dir/deletes")
      case None => // a stale deletes/ from an earlier save would revive on load
        val path = new org.apache.hadoop.fs.Path(s"$dir/deletes")
        path.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(path, true)
    }
    IndexManifest.write(spark, s"$dir/manifest", IndexManifest(schema, fieldStats))
  }
}

/** Tiny line-oriented manifest (no JSON dependency): schema + field stats. */
final case class IndexManifest(schema: IndexSchema, fieldStats: Map[String, FieldStats]) {
  def serialize: String = {
    val sb = new StringBuilder
    sb.append("keys\t").append(schema.keyColumns.mkString(",")).append('\n')
    schema.fields.toSeq.sortBy(_._1).foreach {
      case (n, TextField(a, p, o)) => sb.append(s"field\t$n\ttext\t$a\t$p\t$o\n")
      case (n, KeywordField)    => sb.append(s"field\t$n\tkeyword\t-\t-\n")
      case (n, NestedField(s))  => sb.append(s"field\t$n\tnested\t$s\t-\n")
    }
    fieldStats.toSeq.sortBy(_._1).foreach { case (n, s) =>
      sb.append(s"stats\t$n\t${s.docCount}\t${s.sumTotalTermFreq}\n")
    }
    sb.toString
  }
}

object IndexManifest {

  /** Hadoop-FS-aware manifest IO (works for local, HDFS, object stores). */
  def write(spark: SparkSession, path: String, m: IndexManifest): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(m.serialize.getBytes("UTF-8")) finally out.close()
  }

  def read(spark: SparkSession, path: String): IndexManifest = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(p)
    try parse(new String(in.readAllBytes(), "UTF-8")) finally in.close()
  }

  def parse(text: String): IndexManifest = {
    var keys = Seq.empty[String]
    val fields = Map.newBuilder[String, FieldKind]
    val stats = Map.newBuilder[String, FieldStats]
    text.linesIterator.filter(_.nonEmpty).foreach { line =>
      line.split('\t') match {
        case Array("keys", ks)                  => keys = ks.split(',').toSeq
        case Array("field", n, "text", a, p)    => fields += n -> TextField(a, p.toBoolean)
        case Array("field", n, "text", a, p, o) => fields += n -> TextField(a, p.toBoolean, o.toBoolean)
        case Array("field", n, "keyword", _, _) => fields += n -> KeywordField
        case Array("field", n, "nested", s, _)  => fields += n -> NestedField(s)
        case Array("stats", n, dc, sttf)        => stats += n -> FieldStats(dc.toLong, sttf.toLong)
        case other => throw new IllegalArgumentException(s"bad manifest line: $line")
      }
    }
    IndexManifest(IndexSchema(keys, fields.result()), stats.result())
  }
}

object IndexBuilder {

  /** One (field, term, doc) occurrence row — the unit that shuffles.
    * Positions (and payloads) ship pre-VByte-encoded (compact bytes, not
    * arrays of arrays). The field ships DICTIONARY-ENCODED as an index into
    * [[fieldDictOf]]'s sorted name list: a fixed-width int instead of a
    * repeated string shaves ~8–16 bytes per occurrence row off the build
    * shuffle and makes the sort key comparison integral.
    */
  final case class TermDoc(fieldId: Int, term: String, docId: Long, freq: Int, dlq: Int,
      posBlob: Array[Byte], payBlob: Array[Byte] = null, offBlob: Array[Byte] = null)

  /** Every field name the tokenizer can emit (incl. NestedField component
    * prefixes), sorted — the dictionary for [[TermDoc.fieldId]].
    */
  def fieldDictOf(schema: IndexSchema): Array[String] =
    schema.fields.toSeq.flatMap {
      case (n, NestedField(sep)) =>
        val parts = n.split(java.util.regex.Pattern.quote(sep))
        (1 to parts.length).map(i => parts.take(i).mkString(sep))
      case (n, _) => Seq(n)
    }.distinct.sorted.toArray

  /** Docs-per-salt-bucket shift: posting blocks never span a bucket, so a hot
    * term's postings build in parallel across `numDocs / 2^shift` tasks with
    * NO second merge pass (blocks are independent 128-doc units; 2^13 = 64
    * aligned blocks per bucket). This is the skew defense the north_rule
    * requires for terms like `the`/`import`/`return`.
    */
  val SaltShift = 13

  /** First docId of the next salt bucket at or after `id` — segment offsets
    * must be bucket multiples so rebased blocks stay bucket-aligned (docIds
    * then have a gap of < 2^SaltShift at each appended-segment boundary).
    */
  def nextBucketStart(id: Long): Long = {
    val bucket = 1L << SaltShift
    ((id + bucket - 1) / bucket) * bucket
  }

  /** Column form of [[nextBucketStart]]. */
  def nextBucketStartCol(id: _root_.org.apache.spark.sql.Column): _root_.org.apache.spark.sql.Column = {
    val bucket = 1L << SaltShift
    (id + (bucket - 1)).divide(bucket).cast("long") * bucket
  }

  /** Build an index from a source DataFrame. One tokenize pass; one shuffle
    * for postings; termDict and stats derive from the compressed blocks.
    */
  def build(source: DataFrame, schema: IndexSchema, numPartitions: Int = 0): Index = {
    val spark = source.sparkSession
    import spark.implicits._
    val parts =
      if (numPartitions > 0) numPartitions
      else spark.conf.get("spark.sql.shuffle.partitions").toInt
    // The explicit repartition decouples tokenize parallelism from the docId
    // window's exchange, which AQE otherwise coalesces to ~64MB partitions —
    // the tokenize stage is CPU-bound and must run at full width.
    // Persisted: postings are encoded from ONE docId assignment; without
    // pinning, a later action could re-run the window and (for DUPLICATE
    // keys, which violate the input contract) swap docIds between the doc
    // store and the frozen postings. (CheckpointedBuild writes docs first
    // for the same reason.)
    val docs = prepareDocs(source, schema, parts).repartition(parts)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // persist: the stats collection below is an action, and queries reuse
    // blocks — without this the tokenize+shuffle pipeline would re-execute
    // per action (the at-scale path, CheckpointedBuild, persists to parquet)
    val blocks = blocksOf(tokensOf(docs, schema), schema, parts)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val termDict = termDictOf(blocks)
    new Index(spark, schema, docs, blocks, termDict, fieldStatsOf(blocks))
  }

  /** Doc store: deterministic docId + content sha256 invariant stamp. */
  def prepareDocs(source: DataFrame, schema: IndexSchema, parts: Int): DataFrame = {
    var docs = DocIds.assign(source, schema.keyColumns, parts)
    val textFields = schema.fields.collect { case (n, t: TextField) => (n, t) }.toSeq.sortBy(_._1)
    textFields.foreach { case (n, _) =>
      docs = docs.withColumn(s"__sha256_$n", sha2(Cols.qcol(n).cast(StringType), 256))
    }
    docs
  }

  /** Tokenize once; emit TermDoc rows + one sentinel ("" term) per doc-field. */
  def tokensOf(docs: DataFrame, schema: IndexSchema): Dataset[TermDoc] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val fieldPlans: Seq[(String, FieldKind, Analyzer, Boolean)] = schema.fields.toSeq.sortBy(_._1).map {
      case (n, t @ TextField(a, p, _)) => (n, t, Analyzers.byName(a), p)
      case (n, k)                   => (n, k, null, false)
    }
    val indexedCols = fieldPlans.map(_._1)
    val arrayKeyword: Set[String] = indexedCols.filter { c =>
      docs.schema(c).dataType.isInstanceOf[ArrayType]
    }.toSet
    // pre-split nested component names (once, not per row)
    val nestedNames: Map[String, Array[String]] = schema.fields.collect {
      case (n, NestedField(sep)) => n -> n.split(java.util.regex.Pattern.quote(sep))
    }.toMap
    val inputCols = col("docId") +: indexedCols.map(Cols.qcol)
    val fid: Map[String, Int] = fieldDictOf(schema).zipWithIndex.toMap

    docs.select(inputCols: _*).flatMap { row =>
      val docId = row.getLong(0)
      fieldPlans.iterator.zipWithIndex.flatMap { case ((name, kind, analyzer, withPos), i) =>
        val ci = i + 1
        if (row.isNullAt(ci)) Iterator.empty
        else kind match {
          case _: TextField =>
            val text = row.getString(ci)
            val toks = analyzer.tokens(text)
            // Lucene CollectionStatistics.docCount only counts docs with at
            // least one indexed term for the field: a non-null value that
            // analyzes to zero tokens contributes NO sentinel (else idf on
            // corpora containing empty strings would diverge).
            if (toks.isEmpty) Iterator.empty
            else {
              val withPay = analyzer.producesPayloads
              val withOff = kind.asInstanceOf[TextField].offsets
              val dlq = SmallFloat.quantizeLength(toks.length)
              val byTerm = scala.collection.mutable.LinkedHashMap
                .empty[String, scala.collection.mutable.ArrayBuffer[graft.analysis.Token]]
              toks.foreach { t =>
                byTerm.getOrElseUpdate(t.term,
                  scala.collection.mutable.ArrayBuffer.empty[graft.analysis.Token]) += t
              }
              val sentinel = TermDoc(fid(name), "", docId, 0, dlq, null)
              Iterator.single(sentinel) ++ byTerm.iterator.map { case (term, ts) =>
                TermDoc(fid(name), term, docId, ts.length, dlq,
                  if (withPos) PostingCodec.encodePositions(ts.map(_.pos).toArray) else null,
                  if (withPay) PostingCodec.encodePayloads(ts.map(_.payload).toArray) else null,
                  if (withOff) PostingCodec.encodeOffsets(
                    ts.flatMap(t => Seq(t.startOffset, t.endOffset)).toArray) else null)
              }
            }
          case KeywordField =>
            // "" is reserved as the norms sentinel, so empty-string keyword
            // values are skipped like nulls (documented divergence)
            val values: Seq[String] =
              (if (arrayKeyword(name)) row.getSeq[String](ci) else Seq(row.getString(ci)))
                .filter(v => v != null && v.nonEmpty)
            // omitNorms semantics: dlq=0 → BM25 uses K = k1 (norm-free).
            if (values.isEmpty) Iterator.empty
            else {
              val sentinel = TermDoc(fid(name), "", docId, 0, 0, null)
              Iterator.single(sentinel) ++ values.distinct.iterator.map { v =>
                TermDoc(fid(name), v, docId, values.count(_ == v), 0, null)
              }
            }
          case NestedField(sep) =>
            val names = nestedNames(name)
            val parts = row.getString(ci).split(java.util.regex.Pattern.quote(sep))
            val k = math.min(names.length, parts.length)
            (1 to k).iterator.flatMap { i =>
              val f = names.take(i).mkString(sep)
              val v = parts.take(i).mkString(sep)
              Iterator(TermDoc(fid(f), "", docId, 0, 0, null), TermDoc(fid(f), v, docId, 1, 0, null))
            }
        }
      }
    }
  }

  /** Salted, block-aligned postings build: one shuffle, streaming encoder,
    * memory bounded by one 128-posting block.
    */
  def blocksOf(tokens: Dataset[TermDoc], schema: IndexSchema, parts: Int,
      saltShift: Int = SaltShift): Dataset[PostingBlock] = {
    // finer-than-default shifts nest inside the WAND routing buckets;
    // coarser ones would let blocks straddle them
    require(saltShift <= SaltShift, s"saltShift $saltShift > $SaltShift")
    val shift = saltShift
    val names = fieldDictOf(schema)
    val spark = tokens.sparkSession
    import spark.implicits._
    tokens
      .repartition(parts, col("fieldId"), col("term"), shiftrightunsigned(col("docId"), shift))
      .sortWithinPartitions("fieldId", "term", "docId")
      .mapPartitions(rows => blockify(rows, shift, names))
  }

  def termDictOf(blocks: Dataset[PostingBlock]): DataFrame =
    blocks.filter(col("term") =!= "")
      .groupBy(col("field"), col("term"))
      .agg(sum(col("numDocs")).as("docFreq"), sum(col("sumTf")).as("totalTermFreq"))

  def fieldStatsOf(blocks: Dataset[PostingBlock]): Map[String, FieldStats] =
    blocks.groupBy(col("field")).agg(
      sum(when(col("term") === "", col("numDocs")).otherwise(0L)).as("docCount"),
      sum(when(col("term") =!= "", col("sumTf")).otherwise(0L)).as("sumTotalTermFreq")
    ).collect().map { r =>
      r.getString(0) -> FieldStats(r.getLong(1), r.getLong(2))
    }.toMap

  /** Blocks are additionally CUT at salt-bucket boundaries: a build partition
    * can hold several buckets of the same term (hash collisions), and the
    * WAND evaluator co-partitions blocks by `firstDocId >>> SaltShift` — a
    * block straddling buckets would split a doc's per-term scores across
    * partitions. Bucket-aligned cuts make bucket(firstDocId) identify ALL
    * docs in the block.
    */
  def blockify(rows: Iterator[TermDoc], saltShift: Int,
      fieldNames: Array[String]): Iterator[PostingBlock] =
    new scala.collection.AbstractIterator[PostingBlock] {
      private var cur: TermDoc = if (rows.hasNext) rows.next() else null
      override def hasNext: Boolean = cur != null
      override def next(): PostingBlock = {
        val f = cur.fieldId
        val t = cur.term
        val bucket = cur.docId >>> saltShift
        val buf = scala.collection.mutable.ArrayBuffer.empty[RawPosting]
        while (cur != null && buf.length < PostingCodec.BlockSize &&
            cur.fieldId == f && cur.term == t && (cur.docId >>> saltShift) == bucket) {
          buf += RawPosting(cur.docId, cur.freq, cur.dlq, cur.posBlob, cur.payBlob, cur.offBlob)
          cur = if (rows.hasNext) rows.next() else null
        }
        PostingCodec.encodeRaw(fieldNames(f), t, buf.toSeq)
      }
    }

  /** Backfill blob columns absent from postings persisted by layouts that
    * predate them (payloads/offsets) — read-compat mirrors the manifest
    * parser's tolerance of old field lines. Reads must use
    * [[readPostings]] (mergeSchema): a mixed-version postings dir read
    * without schema merging infers the schema from ONE nondeterministically
    * chosen footer, so new segments' payload/offset blobs could silently
    * vanish (or old rows read null) depending on file listing order. Rows
    * from pre-blob segments surface as nulls after the merge and are
    * coalesced to empty here.
    */
  def withBlobDefaults(df: DataFrame): DataFrame =
    Seq("payloadsBlob", "offsetsBlob").foldLeft(df)((d, c) =>
      if (d.columns.contains(c)) d.withColumn(c, coalesce(col(c), lit(Array.empty[Byte])))
      else d.withColumn(c, lit(Array.empty[Byte])))

  /** Schema-merged postings read — see [[withBlobDefaults]]. */
  def readPostings(spark: SparkSession, path: String): DataFrame =
    withBlobDefaults(spark.read.option("mergeSchema", "true").parquet(path))

  def load(spark: SparkSession, dir: String): Index = {
    import spark.implicits._
    val manifest = IndexManifest.read(spark, s"$dir/manifest")
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val deletes =
      if (fs.exists(new org.apache.hadoop.fs.Path(s"$dir/deletes")))
        Some(spark.read.parquet(s"$dir/deletes"))
      else None
    new Index(
      spark,
      manifest.schema,
      spark.read.parquet(s"$dir/docs"),
      readPostings(spark, s"$dir/postings").as[PostingBlock],
      spark.read.parquet(s"$dir/termdict"),
      manifest.fieldStats,
      deletes,
      if (fs.exists(new org.apache.hadoop.fs.Path(s"$dir/termgrams")))
        Some(spark.read.parquet(s"$dir/termgrams"))
      else None // pre-grams layout: the searcher derives it
    )
  }
}

/** Trigram q-gram signatures over dictionary terms — the fuzzy/suggest
  * candidate prefilter (see Searcher.fuzzyPrefiltered for the distance
  * bound).
  */
object TermGrams {

  /** Padded trigrams of a term (distinct). Static so the UDF closure stays
    * slim.
    */
  def padGrams(s: String): Seq[String] = {
    val p = "\u0001\u0001" + s + "\u0002\u0002" // sentinel chars no analyzer can emit
    (0 to p.length - 3).map(i => p.substring(i, i + 3)).distinct
  }

  /** (field, term, gram) rows for every dictionary term. */
  def of(termDict: DataFrame): DataFrame = {
    val g = udf((t: String) => padGrams(t))
    termDict.filter(col("term") =!= "")
      .select(col("field"), col("term"), explode(g(col("term"))).as("gram"))
  }

  // Derived-grams cache, keyed by termDict REFERENCE identity: Searchers over
  // the same Index (and views made via withDeletes, which share the termDict
  // DataFrame) reuse one pinned grams table instead of each persisting their
  // own; superseded dictionaries (writer refresh re-opens the index) age out
  // of the access-ordered bound and unpersist — long-lived writer sessions no
  // longer accumulate cached copies until GC.
  private val derivedCache =
    new java.util.LinkedHashMap[AnyRef, DataFrame](8, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[AnyRef, DataFrame]): Boolean =
        if (size > 4) { e.getValue.unpersist(false); true } else false
    }

  /** [[of]], persisted and memoized per dictionary instance (bounded LRU). */
  def cachedOf(termDict: DataFrame): DataFrame = derivedCache.synchronized {
    val hit = derivedCache.get(termDict)
    if (hit != null) hit
    else {
      val g = of(termDict).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      derivedCache.put(termDict, g)
      g
    }
  }
}
