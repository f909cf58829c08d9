package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import scala.reflect.ClassTag
import scala.reflect.runtime.universe.TypeTag

/** Deduplication operators for web-scale corpora. Exact dedup is a
  * hash-groupBy; near-dup uses MinHash + LSH banding (shingle → minhash →
  * band → bucket join) so candidate generation is a shuffle on band keys,
  * never an all-pairs product. The hash is md5 (available and bit-identical
  * in both Spark and DuckDB, see [[Md5]]) so every stage is
  * oracle-checkable.
  */
object Dedup {

  /** Partition by WORK, not bytes, ahead of a CPU-heavy kernel: Spark splits
    * file scans by `maxPartitionBytes`, which undercuts kernels whose cost
    * scales with tokens rather than bytes (tokenize + per-window hashing
    * costs ~2000× the scan of the same bytes) — a compact input (one small
    * parquet file, or a heavily-compressed split) otherwise serializes the
    * corpus's most expensive pass onto a handful of cores. When the input
    * has fewer partitions than the session's default parallelism,
    * repartition up to it (the shuffled payload is small by the same
    * premise that made the partition count small); when partitions already
    * ≥ parallelism — every real multi-file corpus — this is a NO-OP with no
    * added exchange.
    */
  def cpuParallel(df: DataFrame): DataFrame = {
    if (df.isStreaming) return df // .rdd is illegal on a streaming frame;
    // micro-batch sizing is the streaming engine's trigger concern
    val target = df.sparkSession.sparkContext.defaultParallelism
    // Probe the partition count ONLY on narrow, scan-rooted plans: under
    // AQE, Dataset.rdd on a plan with upstream exchanges materializes every
    // shuffle/broadcast stage eagerly at BUILD time, and the returned frame
    // re-executes them at query time (advisor r7 — the same
    // eager-build-time-action disease the lazy cap guards cured). A narrow
    // plan (scan/union/generate over file sources) builds its RDD without
    // running a job, so the probe is free there; anything wider arrives
    // from an exchange already sized to session parallelism, so skipping
    // the repartition is also the right sizing answer.
    import org.apache.spark.sql.catalyst.plans.logical._
    val narrowOnly = df.queryExecution.analyzed.collectFirst {
      case n if !n.isInstanceOf[Project] && !n.isInstanceOf[Filter] &&
        !n.isInstanceOf[Union] && !n.isInstanceOf[Generate] &&
        !n.isInstanceOf[SubqueryAlias] && !n.isInstanceOf[LeafNode] &&
        !(n.isInstanceOf[Repartition] && !n.asInstanceOf[Repartition].shuffle) => n
    }.isEmpty
    if (!narrowOnly) df
    else if (df.rdd.getNumPartitions >= target) df
    else df.repartition(target)
  }

  /** Exact-duplicate groups by content hash: (hash, cnt, ids). */
  def exactGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(sha2(col(textCol), 256).as("content_sha"))
      .agg(count(lit(1)).as("cnt"), sort_array(collect_list(col(idCol))).as("ids"))
      .filter(col("cnt") > 1)

  /** MinHash signature of length `numHashes` (must be a multiple of 4):
    * shingle hash family h_{4v+j} = hex chunk j (8 chars = 32 bits) of
    * md5(v ":" shingle); signature element i = lexicographic min over
    * shingles. One compiled pass, 2 md5 calls per shingle at the default 8
    * hashes — the equivalent nested higher-order-function expression is
    * interpreted (no codegen) and ~20× slower. Deterministic and
    * reproducible in SQL via substring(md5(..), j*8+1, 8).
    */
  def minhash(shingles: Column, numHashes: Int): Column = {
    require(numHashes % 4 == 0, "numHashes must be a multiple of 4 (md5 chunking)")
    val variants = numHashes / 4
    val f = udf((sh: Seq[String]) => {
      if (sh == null) null
      else {
        val digest = Md5.digest()
        val mins = Array.fill(numHashes)(null: String)
        sh.foreach { s =>
          var v = 0
          while (v < variants) {
            val hex = Md5.hex(digest.digest(s"$v:$s".getBytes("UTF-8")))
            var j = 0
            while (j < 4) {
              val i = v * 4 + j
              val chunk = hex.substring(j * 8, j * 8 + 8)
              if (mins(i) == null || chunk < mins(i)) mins(i) = chunk
              j += 1
            }
            v += 1
          }
        }
        if (mins(0) == null) Seq.empty[String] else mins.toSeq
      }
    })
    f(shingles)
  }

  /** LSH banding: explode the signature into (bandId, bandKey) rows; docs
    * sharing any band bucket become candidate pairs via a self-equi-join on
    * the band key (a plain shuffle join — broadcast-able when buckets are
    * small, AQE-skew-splittable when a bucket is hot).
    *
    * Hot-bucket guard: a bucket with more than `maxBucketSize` members
    * (mass-boilerplate corpora: license headers, templated pages) goes
    * QUADRATIC inside the self-join. With the cap, oversized buckets are
    * dropped from candidate generation and the drop is logged LOUDLY (never
    * silent). Recall trade-off: a pair is lost only if EVERY band bucket it
    * shares is over the cap — members of a dropped bucket still pair
    * through their other bands. 0 = uncapped.
    */
  def lshCandidates(df: DataFrame, idCol: String, sigCol: String, bands: Int,
      maxBucketSize: Int = 0): DataFrame = {
    val banded = df.filter(size(col(sigCol)) > 0).select(col(idCol).as("id"),
        explode(transform(sequence(lit(0), lit(bands - 1)),
          b => struct(b.as("band"),
            concat_ws("|", slice(col(sigCol), b * (size(col(sigCol)) / bands) + 1,
              (size(col(sigCol)) / bands))).as("key")))).as("bk"))
      .select(col("id"), col("bk.band"), col("bk.key"))
    // Shape note (measured, guide §1.1 empirical loop): an explicit
    // repartition(band, key) — one exchange serving the sizing aggregate
    // and both self-join sides via AQE stage reuse — was tried this round
    // and REGRESSED the bench (uncapped 0.58 → 0.84 s, capped 1.03 → 1.49 s
    // warm at sf0.1): banded rows are a cheap slice+concat over the already-
    // materialized signature table, so the shared pass saves almost nothing
    // while the forced shuffle+sort replaces AQE's broadcast join and adds
    // stage barriers. At corpus scale, where neither side broadcasts, the
    // planner's sort-merge join exchanges the two IDENTICAL banded subtrees
    // and ReuseExchange serves both from one shuffle anyway — the explicit
    // repartition buys nothing at either scale. Kept planner-shaped.
    val pruned =
      if (maxBucketSize <= 0) banded
      else {
        // LAZY hot-bucket guard (advisor r6 killed the eager-.collect()
        // form; r8 reshaped the sizing): bucket sizes come from a plain
        // groupBy count — a NARROW (band, key, cnt) aggregate with map-side
        // combining — joined back onto the banded rows, instead of a window
        // count (which forced a full-row exchange + sort even when the
        // candidate join itself goes broadcast). AQE broadcasts the size
        // table when it is small (the common case: one row per bucket);
        // on a corpus whose bucket table is itself huge it degrades to the
        // same (band, key) equi-shuffle the window needed — never worse.
        // The over-cap filter stays a per-row predicate and the drop count
        // is OBSERVED at execution time (CollectMetrics + the shared
        // once-per-session listener), never a build-time driver action.
        registerCapListener(df.sparkSession)
        // r8.1 reshape: the drop metrics ride the aggregated size table
        // (identical values — Σ of over-cap bucket counts == the count of
        // rows inside over-cap buckets), and the prune is a LEFT-ANTI join
        // against only the over-cap keys. The r8.0 inner-join shipped EVERY
        // bucket's size back onto every banded row to test one predicate;
        // the over-cap key set is bounded by buckets/cap — usually empty,
        // tiny under mass boilerplate — so the join side shrinks from
        // all-buckets to offenders-only (broadcast-able far longer, and AQE
        // degrades it to a shuffle anti-join, never a product). Measured
        // local: within noise; the win is the at-scale join payload.
        val sizes = banded.groupBy("band", "key").agg(count(lit(1)).as("__bsz"))
          .observe(s"graft.lsh.bucketcap.${capSeq.incrementAndGet()}",
            sum(when(col("__bsz") > maxBucketSize, col("__bsz")).otherwise(0L))
              .as("memberships_dropped"),
            coalesce(max(col("__bsz")), lit(0L)).as("max_cell_occupancy"),
            max(lit(maxBucketSize.toLong)).as("cap"))
        val overCap = sizes.filter(col("__bsz") > maxBucketSize).select("band", "key")
        banded.join(overCap, Seq("band", "key"), "left_anti")
      }
    // ONE-SIDED pruning (r8): a candidate pair shares its (band, key)
    // bucket BY CONSTRUCTION, so filtering over-cap buckets from one join
    // side removes exactly the same pairs as filtering both — an over-cap
    // bucket has no a-side rows left, an under-cap bucket keeps all members
    // on both sides. The b side therefore skips the window+sort+metrics
    // pass entirely (the r7 plan computed it twice, once per side).
    val a = pruned.as("a")
    val b = banded.as("b")
    a.join(b, col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
        col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
  }

  /** Production MinHash: signature element i = min over shingles of
    * xxh64(shingle, seed = i), formatted as fixed-width hex so band keys
    * stay string-typed (drop-in for [[minhash]]'s md5 signatures, ~10×
    * cheaper — one xxh64 per (shingle, seed) instead of md5 + hex slicing).
    * Unsigned comparison via the sign-bit flip keeps min well-defined.
    */
  def minhashXx(shingles: Column, numHashes: Int): Column = {
    val n = numHashes
    val f = udf((sh: Seq[String]) => {
      if (sh == null) null
      else {
        val mins = Array.fill(n)(Long.MaxValue) // over biased (unsigned-order) values
        sh.foreach { s =>
          val bytes = s.getBytes("UTF-8")
          var i = 0
          while (i < n) {
            val h = graft.util.XXH64.hash(bytes, i.toLong) ^ Long.MinValue
            if (h < mins(i)) mins(i) = h
            i += 1
          }
        }
        if (sh.isEmpty) Seq.empty[String]
        else mins.toSeq.map(m => f"${m ^ Long.MinValue}%016x")
      }
    })
    f(shingles)
  }

  /** Embedding-cosine near-duplicate pairs: candidates come from a
    * sign-bucket LSH equi-join — pairs agreeing on EVERY hyperplane sign of
    * some table share one bucket id, so candidate generation is a shuffle
    * join on (table, bucket) (≈ N²/2^(H/tables) work per bucket), never an
    * all-pairs product — then the exact cosine ≥ `minCos` verify runs on
    * deduplicated candidates only.
    *
    * `tables` is the standard OR-of-ANDs banding (same construction as the
    * minhash path): the hyperplanes split into `tables` bands, each band its
    * own bucket table, and a pair is a candidate when ANY band agrees on all
    * its signs. A single AND over all H planes loses recall as H grows with
    * log₂N (miss probability 1 − (1 − θ/π)^H); with banding it is
    * 1 − (1 − (1 − θ/π)^(H/t))^t — the production recall knob. Rows explode
    * by `tables` (one narrow (id, bucket) row per band), so the join input
    * scales linearly in t, not the corpus.
    */
  def cosineNearDup(df: DataFrame, idCol: String, vecCol: String,
      hyperplanes: Seq[Seq[Float]], minCos: Double, tables: Int = 1): DataFrame = {
    require(tables >= 1 && tables <= hyperplanes.length,
      s"tables must be in [1, ${hyperplanes.length}] (got $tables)")
    val bandSize = (hyperplanes.length + tables - 1) / tables
    val bands = hyperplanes.grouped(bandSize).toSeq
    // ALL band buckets in ONE pass per vector — a NATIVE expression carrying
    // the plane matrix as a reference object ([[graft.functions
    // .MatrixExpressions.bandBuckets]]). History: the column form (per-band
    // struct of lit(t) + H when(dot > 0) columns against CreateArray
    // literals) made plan/codegen cost GROW with H (measured on the sf0.1
    // sweep — the k-literal plan disease); round 6's compiled UDF cured the
    // plan but still boxed every vector into a Seq[Float] and cut
    // whole-stage codegen; the expression keeps the O(1)-in-H plan AND runs
    // as a primitive loop inside codegen. Bit/band order unchanged: band
    // t = planes [t*bandSize, (t+1)*bandSize), local bit i =
    // sign(v · plane_i) — dot folded in element order, strictly > 0,
    // identical to Ann.signBucket and the DuckDB oracle. posexplode yields
    // the (band, bucket) candidate key the struct-explode used to carry.
    val planes: Array[Array[Array[Float]]] = bands.map(_.map(_.toArray).toArray).toArray
    // Candidate generation stays NARROW — (id, band, bucket) rows only — so
    // the bucket self-join and the multi-band dedup shuffle move ids, not
    // vectors. The vectors attach AFTER dedup via two equi-joins on id
    // (broadcast when the vector table is small; a plain hash join at
    // scale) — shuffling dim-sized payloads through the candidate join was
    // ~2x the bytes for zero information.
    val bucketed = df.select(col(idCol).as("id"),
      posexplode(graft.functions.MatrixExpressions.bandBuckets(col(vecCol), planes))
        .as(Seq("band", "bucket")))
    val a = bucketed.as("a")
    val b = bucketed.as("b")
    val cand = a.join(b, col("a.band") === col("b.band") &&
        col("a.bucket") === col("b.bucket") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      // a pair agreeing in several bands would verify (and emit) repeatedly
      .dropDuplicates("id_a", "id_b")
    val vecs = df.select(col(idCol).as("vid"), col(vecCol).as("v"))
    cand
      .join(vecs.withColumnRenamed("vid", "id_a").withColumnRenamed("v", "va"), "id_a")
      .join(vecs.withColumnRenamed("vid", "id_b").withColumnRenamed("v", "vb"), "id_b")
      .select(col("id_a"), col("id_b"), Ann.cosine(col("va"), col("vb")).as("cos"))
      .filter(col("cos") >= minCos)
  }

  /** SemDeDup-style semantic dedup (Abbas et al., "SemDeDup: Data-efficient
    * learning at web-scale through semantic deduplication", arXiv
    * 2303.09540): partition vectors into cells by nearest centroid (argmax
    * of the centroid dot products — the IVF/k-means cell), generate
    * candidate pairs ONLY within a cell via an equi-join on the cell id,
    * then verify with exact cosine. Candidate volume is Σ_c N_c²/2 instead
    * of N²/2 — with k balanced cells, a k-fold reduction, and the join is
    * equi-shaped (shuffle on cell id), never all-pairs. Centroids are
    * passed in (production: `Ann.kmeansCentroids` from a sample pass); the
    * candidate shuffle moves (id, cell) rows only and vectors attach after
    * candidate generation, exactly like [[cosineNearDup]].
    *
    * The method's documented recall trade: a near-dup pair straddling a
    * cell boundary is missed (SemDeDup §2 accepts this for k ≪ N; raise
    * recall by probing adjacent cells — see `Ann.topkIvf`'s nprobe — or by
    * union with a [[cosineNearDup]] pass).
    *
    * Cell id is the FIRST index attaining the max dot (1-based), making
    * assignment deterministic under ties.
    *
    * Hot-cell guard (`maxCellSize` > 0): a degenerate centroid set or a
    * natural mega-cluster makes one cell's within-cell join QUADRATIC —
    * the same failure [[lshCandidates]]' `maxBucketSize` guards against.
    * Over-cap cells are dropped from candidate generation with a LOUD
    * distributed count (never silent). Recall note: unlike the banded LSH
    * paths, a vector lives in exactly ONE cell, so a dropped cell loses ALL
    * its pairs — SemDeDup's own answer to mega-cells is raising k until
    * cells are balanced (Abbas et al. §2 run k = 11k on 230M embeddings);
    * the cap is the backstop that keeps a mis-sized k from killing the job
    * rather than a recall knob. 0 = uncapped.
    */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String,
      centroids: Seq[Seq[Float]], minCos: Double, maxCellSize: Int = 0): DataFrame = {
    require(centroids.nonEmpty, "centroids must be non-empty")
    val vecs = df.select(col(idCol).as("id"), col(vecCol).as("v"))
    val dots = array(centroids.map(c => Ann.dot(col("v"), array(c.map(lit(_)): _*))): _*)
    val cells = vecs.select(col("id"), array_position(dots, array_max(dots)).as("cell"))
    semanticPairs(vecs, cells, minCos, maxCellSize)
  }

  /** [[semanticDedup]] with the centroids as a TABLE of (cell, centroid) —
    * the production form. The `Seq` overload builds one literal column per
    * centroid, which is exact and oracle-checkable but explodes the plan at
    * SemDeDup-realistic k (10⁴–10⁵ cells); here the centroid table (k rows —
    * the k-means OUTPUT, metadata-scale next to the corpus) is collected
    * once and broadcast, and assignment is ONE compiled argmax pass per
    * vector — plan size is O(1) in k. Centroids come from
    * [[Ann.kmeansCentroids]] (or any (cell, numeric-array) table).
    *
    * Assignment is deterministic: cells sort by id and strict `>` keeps the
    * FIRST max — identical tie behavior to the Seq overload when cell ids
    * are 1..k in centroid order.
    *
    * `nprobe` > 1 is the RECALL knob for the method's documented cross-cell
    * miss (the same multi-probe answer as `Ann.topkIvf`): each vector joins
    * candidate generation in its `nprobe` nearest cells, so a near-dup pair
    * straddling one boundary is found whenever any probed cell is shared.
    * Candidate rows grow ×nprobe (candidate pairs ≲ ×nprobe² within the
    * shared cells) — the documented price; pairs sharing several probed
    * cells dedupe before the verify.
    */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame, minCos: Double, maxCellSize: Int,
      nprobe: Int): DataFrame = { // no default: the Seq overload holds them
    require(nprobe >= 1, s"nprobe must be >= 1 (got $nprobe)")
    val cents: Array[(Long, Array[Double])] = centroids
      .select(col("cell").cast("long"), col("centroid"))
      .collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Any](1).map { case n: java.lang.Number => n.doubleValue }.toArray)
      .sortBy(_._1)
    require(cents.nonEmpty, "centroids table must be non-empty")
    val p = math.min(nprobe, cents.length)
    // top-p cells by (dot desc, table order asc) — p=1 reduces to the
    // first-max argmax, bit-compatible with the Seq overload. A NATIVE
    // expression carrying the centroid matrix as one reference object: the
    // round-6 compiled UDF already made the plan O(1) in k, but still boxed
    // every vector into a Seq[Float] and cut whole-stage codegen at the
    // assignment — the expression runs the argmax as a primitive loop
    // inside the generated pipeline (same ordering/tie semantics, golds +
    // oracle rows invariant).
    val assigned = graft.functions.MatrixExpressions.topDotCells(col("v"),
      cents.map(_._2), cents.map(_._1), p)
    val vecs = df.select(col(idCol).as("id"), col(vecCol).as("v"))
    val cells = vecs.select(col("id"), explode(assigned).as("cell"))
    semanticPairs(vecs, cells, minCos, maxCellSize, dedupe = p > 1)
  }

  /** Shared SemDeDup pairing tail: optional hot-cell cap, within-cell
    * candidate equi-join on ids only, vectors attach post-dedup, exact
    * cosine verify.
    */
  private def semanticPairs(vecs: DataFrame, cellsIn: DataFrame, minCos: Double,
      maxCellSize: Int, dedupe: Boolean = false): DataFrame = {
    // Shape note (measured): the explicit repartition-by-cell reshape was
    // tried this round and regressed every semantic/cosine query by
    // 0.03–0.06 s warm at sf0.1 (see [[lshCandidates]] — same verdict, same
    // mechanism: the forced shuffle replaces AQE's broadcast join, and at
    // scale ReuseExchange already dedups the identical self-join subtrees).
    val cells =
      if (maxCellSize <= 0) cellsIn
      else {
        // LAZY hot-cell guard (advisor r6 — the prior form ran an eager
        // .collect() at BUILD time, freezing the apply/skip decision into
        // the plan and triggering jobs from a builder API; r8 reshaped the
        // sizing like [[lshCandidates]]): cell sizes come from a plain
        // groupBy count — a NARROW (cell, cnt) aggregate with map-side
        // combining — joined back onto the rows, instead of a window count
        // (full-row exchange + sort even when the candidate join itself
        // goes broadcast). AQE broadcasts the size table when small; on a
        // corpus whose cell table is huge it degrades to the same cell
        // equi-shuffle the window needed. The over-cap filter stays a
        // per-row predicate and the drop count is OBSERVED at execution
        // time (CollectMetrics + a once-per-session
        // QueryExecutionListener), never a build-time driver action.
        //
        // Cap semantics (advisor r6, documented deliberately): the count is
        // per-cell CANDIDATE-GENERATION OCCUPANCY — with nprobe > 1 a
        // vector counts once per probed cell. That is the quantity the
        // within-cell join is quadratic in (probe rows join like primary
        // rows), so the guard bounds exactly the blowup it exists to
        // prevent; it is NOT the true (rank-1) cell size once nprobe > 1.
        registerCapListener(cellsIn.sparkSession)
        // r8.1 reshape (the [[lshCandidates]] argument): metrics on the
        // aggregated size table (identical values), prune via LEFT-ANTI
        // against only the over-cap cell ids — offenders-only join payload
        // instead of every cell's size on every row. Null cells differ: the
        // left-anti prune KEEPS rows with a null cell (a null key matches no
        // anti-join row), where the old inner join dropped them, and an
        // over-cap null group would still count in memberships_dropped.
        // Harmless today: assigned cells are never null, and a null cell
        // never matches the candidate equi-join below.
        // unique observation name per invocation: two capped dedups in ONE
        // plan (a union of pipelines) would otherwise collide on the name
        val sizes = cellsIn.groupBy("cell").agg(count(lit(1)).as("__csz"))
          .observe(s"graft.semantic.cellcap.${capSeq.incrementAndGet()}",
            sum(when(col("__csz") > maxCellSize, col("__csz")).otherwise(0L))
              .as("memberships_dropped"),
            coalesce(max(col("__csz")), lit(0L)).as("max_cell_occupancy"),
            max(lit(maxCellSize.toLong)).as("cap"))
        val overCap = sizes.filter(col("__csz") > maxCellSize).select("cell")
        cellsIn.join(overCap, Seq("cell"), "left_anti")
          .select("id", "cell")
      }
    // ONE-SIDED pruning (r8, same argument as [[lshCandidates]]): a pair
    // shares its cell, so capping one join side removes exactly the pairs
    // both-sided capping removed — the b side skips the window+metrics pass.
    val a = cells.as("a")
    val b = cellsIn.select(col("id"), col("cell")).as("b")
    val cand0 = a.join(b, col("a.cell") === col("b.cell") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
    // multi-probe assignment (nprobe > 1) can emit a pair once per shared
    // probed cell — dedupe ids-only before the (more expensive) verify
    val cand = if (dedupe) cand0.dropDuplicates("id_a", "id_b") else cand0
    cand
      .join(vecs.select(col("id").as("id_a"), col("v").as("va")), "id_a")
      .join(vecs.select(col("id").as("id_b"), col("v").as("vb")), "id_b")
      .select(col("id_a"), col("id_b"), Ann.cosine(col("va"), col("vb")).as("cos"))
      .filter(col("cos") >= minCos)
  }

  /** Total cell memberships the semantic hot-cell cap has dropped across
    * executions in this JVM — observable evidence for tests (the guard
    * itself reports per-execution via the listener below).
    */
  val semanticCapDropped: java.util.concurrent.atomic.AtomicLong =
    new java.util.concurrent.atomic.AtomicLong(0L)

  /** Total (band, key) memberships the LSH hot-bucket cap has dropped
    * across executions in this JVM — the [[lshCandidates]] twin of
    * [[semanticCapDropped]].
    */
  val lshCapDropped: java.util.concurrent.atomic.AtomicLong =
    new java.util.concurrent.atomic.AtomicLong(0L)

  /** Per-invocation suffix for cap observation names (two capped dedups in
    * one plan must not collide on the CollectMetrics name).
    */
  private val capSeq = new java.util.concurrent.atomic.AtomicLong(0L)

  // WEAK keys: a stopped session must stay GC-able — a strong JVM-lifetime
  // set would pin every session (and its SessionState/caches) this op ever
  // touched in a long-lived multi-session JVM. The listener itself holds no
  // reference back to the session, so collection is unimpeded.
  private val capListenerSessions =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[org.apache.spark.sql.SparkSession, java.lang.Boolean]())

  /** Print the hot-cell / hot-bucket guards' observed drop metrics LOUDLY
    * at execution time (once-per-session QueryExecutionListener over the
    * `graft.semantic.cellcap.*` / `graft.lsh.bucketcap.*` observations) —
    * the cap decision itself lives in the lazy plan, so re-executions
    * against changed inputs re-evaluate it and re-report (advisor r6).
    */
  private def registerCapListener(spark: org.apache.spark.sql.SparkSession): Unit =
    if (capListenerSessions.put(spark, java.lang.Boolean.TRUE) == null) {
      spark.listenerManager.register(new org.apache.spark.sql.util.QueryExecutionListener {
        override def onSuccess(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
          qe.observedMetrics.foreach { case (name, row) =>
            val semantic = name.startsWith("graft.semantic.cellcap")
            if (semantic || name.startsWith("graft.lsh.bucketcap")) {
              val dropped = row.getAs[Long]("memberships_dropped")
              if (dropped > 0 && semantic) {
                semanticCapDropped.addAndGet(dropped)
                System.err.println("[graft.Dedup] semantic hot-cell cap " +
                  s"${row.getAs[Long]("cap")} dropped $dropped cell memberships from " +
                  s"candidate generation (max cell occupancy " +
                  s"${row.getAs[Long]("max_cell_occupancy")}) — pairs inside dropped " +
                  "cells are LOST; re-run with more centroids (SemDeDup's k↑ answer) " +
                  "to rebalance, or raise nprobe to recover cross-cell recall")
              } else if (dropped > 0) {
                lshCapDropped.addAndGet(dropped)
                System.err.println("[graft.Dedup] LSH hot-bucket cap " +
                  s"${row.getAs[Long]("cap")} dropped $dropped bucket memberships from " +
                  s"candidate generation (max bucket size " +
                  s"${row.getAs[Long]("max_cell_occupancy")}) — their pairs only " +
                  "surface via other bands")
              }
            }
          }
        override def onFailure(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution, error: Exception): Unit = ()
      })
    }

  /** Exact n-gram Jaccard for candidate pairs: join shingle sets back and
    * compute |∩|/|∪| over distinct shingles.
    */
  def jaccard(candidates: DataFrame, withShingles: DataFrame, idCol: String,
      shinglesCol: String): DataFrame = {
    val s = withShingles.select(col(idCol).as("jid"),
      array_distinct(col(shinglesCol)).as("sh"))
    candidates
      .join(s.withColumnRenamed("jid", "id_a").withColumnRenamed("sh", "sh_a"), "id_a")
      .join(s.withColumnRenamed("jid", "id_b").withColumnRenamed("sh", "sh_b"), "id_b")
      .select(col("id_a"), col("id_b"),
        (size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))).cast("double")).as("jaccard"))
  }

  /** SimHash (bitwise majority of per-token hash bits): md5's first
    * `bits/4` hex chars give the bit source; bit b of the result is 1 when
    * more tokens have bit b set than not. Single compiled pass, ONE md5 per
    * token occurrence (the expression form re-hashed per bit). Default 16
    * bits keeps the oracle SQL tractable.
    */
  def simhash(toks: Column, bits: Int = 16): Column = {
    require(bits > 0 && bits <= 32 && bits % 4 == 0)
    val hexDigits = bits / 4
    val f = udf((ts: Seq[String]) => {
      val votes = new Array[Int](bits)
      if (ts != null) {
        val digest = Md5.digest()
        ts.foreach { t =>
          val bs = digest.digest(t.getBytes("UTF-8"))
          var h = 0L
          var i = 0
          while (i < hexDigits) { // first hexDigits hex chars = high nibbles first
            val nib = if (i % 2 == 0) (bs(i / 2) >> 4) & 0xf else bs(i / 2) & 0xf
            h = (h << 4) | nib
            i += 1
          }
          var b = 0
          while (b < bits) {
            votes(b) += (if (((h >> b) & 1L) == 1L) 1 else -1)
            b += 1
          }
        }
      }
      (0 until bits).map(b => if (votes(b) > 0) 1L << b else 0L).sum
    })
    f(toks)
  }

  /** Sliding token-window hashes for PASSAGE-level dedup (the repeated
    * n-gram window detector of Lee et al., "Deduplicating Training Data
    * Makes Language Models Better", ACL 2022): doc-level minhash misses
    * boilerplate passages embedded in otherwise-distinct documents; this
    * surfaces them exactly. Tokens are lowercased maximal [a-z0-9] runs;
    * one hash per 1-based window start (stride 1 — exact coverage; rows ∝
    * corpus tokens, the honest cost of exact passage detection). Each hash
    * is the lowercase hex md5 of the space-joined window, so every stage is
    * oracle-checkable in DuckDB; null text and docs shorter than `window`
    * give an empty array. This is the hex view of [[windowDigests]], the
    * kernel the passage pipelines run on.
    */
  def passageHashes(text: Column, window: Int): Column =
    windowDigests(text, window, Md5.hex)

  /** The one window kernel: the md5 digest of every token window, in
    * window-start order, passed through `encode`. The pipelines keep the
    * 16 raw bytes (`identity`) through every aggregate, join and exchange
    * (half the key bytes of the 32-char hex form, and no per-window hex
    * encode) and apply `lower(hex(..))` — md5()'s form in both engines —
    * only at output positions, so emitted values are bit-identical to
    * [[passageHashes]], which encodes with [[Md5.hex]] inside this pass
    * (an interpreted transform(.., lower(hex(..))) over the binary output
    * measured ~45% slower on a noop-sink window-hash pass, 4 cores).
    *
    * ONE compiled pass per doc: tokenize once, join once, then digest each
    * window as a byte range of the joined buffer (tokens are pure ASCII
    * after the [a-z0-9] filter, so char offsets == UTF-8 byte offsets and no
    * per-window string is ever built). The equivalent
    * transform(sequence)/slice/concat_ws/md5 HOF chain is interpreted (no
    * codegen) and re-materializes every window — measured 4.9 s warm vs
    * ~1 s for this UDF on the sf0.1 documents sweep.
    */
  private def windowDigests[T: TypeTag: ClassTag](text: Column, window: Int,
      encode: Array[Byte] => T): Column = {
    require(window >= 2, s"window must be >= 2 (got $window)")
    val w = window
    val f = udf((t: String) => {
      val toks =
        if (t == null) Array.empty[String]
        else t.toLowerCase(java.util.Locale.ROOT).split("[^a-z0-9]+").filter(_.nonEmpty)
      if (toks.length < w) Seq.empty[T]
      else {
        val bytes = toks.mkString(" ").getBytes("UTF-8")
        val starts = new Array[Int](toks.length + 1) // byte offset of each token
        var i = 0
        while (i < toks.length) { starts(i + 1) = starts(i) + toks(i).length + 1; i += 1 }
        val digest = Md5.digest()
        val out = new Array[T](toks.length - w + 1)
        i = 0
        while (i < out.length) {
          digest.update(bytes, starts(i), starts(i + w) - 1 - starts(i))
          out(i) = encode(digest.digest())
          i += 1
        }
        out.toSeq
      }
    })
    f(text)
  }

  /** Token windows appearing in ≥ 2 distinct docs: (h, ndocs, occurrences).
    * One groupBy on the window hash — an equi-shuffle with map-side partial
    * aggregation absorbing within-doc repeats before the exchange; never an
    * all-pairs product. The aggregate shuffles 16-byte binary keys
    * ([[windowDigests]]); only the surviving rows are hex-encoded. `h` is
    * the [[passageHashes]] value. Downstream, [[passageDupLocations]] joins
    * `h` back to the exploded windows to locate/excise the passages per doc.
    */
  def passageDups(df: DataFrame, idCol: String, textCol: String, window: Int = 8): DataFrame =
    cpuParallel(df)
      .select(col(idCol).as("doc_id"),
        explode(windowDigests(col(textCol), window, identity)).as("h"))
      .groupBy("h")
      .agg(countDistinct(col("doc_id")).as("ndocs"), count(lit(1)).as("occurrences"))
      .filter(col("ndocs") >= 2)
      .select(lower(hex(col("h"))).as("h"), col("ndocs"), col("occurrences"))

  /** Locate duplicated passages per doc — the EXCISION input (Lee et al.
    * §3's stated point: removing the repeated span needs its position, not
    * just its count). One row per (doc, window occurrence) whose window hash
    * appears in ≥ 2 DISTINCT docs: (doc_id, start, h), `start` the 1-based
    * token index of the window's first token under the same tokenization as
    * [[passageHashes]] — the caller excises tokens [start, start+window).
    * Overlapping duplicated windows emit one row each; collapsing them into
    * maximal ranges is a per-doc sort the caller does at excision time.
    *
    * Shape: the exploded window table is MATERIALIZED ONCE per invocation
    * (eager localCheckpoint — the signature-table pattern the minhash
    * pipeline uses) and BOTH stages read it: the cross-doc aggregate (an
    * equi-shuffle on `h` with map-side partial agg) and the locate join
    * back (another equi-shuffle on `h`) — never all-pairs, and the
    * tokenize+hash scan, the corpus's most expensive pass, runs exactly
    * once (round 6 ran it once per join side — at 100 TB that doubles the
    * dominant cost; it was the committed bench's named p99).
    *
    * The checkpoint makes this builder EAGER (the window pass runs at call
    * time) and its blocks stay pinned until the returned frame is GC'd —
    * the same contract as [[connectedComponents]]' result. Callers running
    * many invocations over one corpus should materialize the window table
    * to parquet themselves and feed both [[passageDups]] and this.
    *
    * The checkpointed window table, the dup-flag aggregate and the locate
    * join all carry 16-byte binary keys ([[windowDigests]]); `h` is
    * hex-encoded once, on the output rows.
    */
  def passageDupLocations(df: DataFrame, idCol: String, textCol: String,
      window: Int = 8): DataFrame = {
    val wins = cpuParallel(df)
      .select(col(idCol).as("doc_id"),
        posexplode(windowDigests(col(textCol), window, identity)).as(Seq("pos", "h")))
      .select(col("doc_id"), (col("pos") + 1).as("start"), col("h"))
      .localCheckpoint(true) // ONE tokenize+hash pass feeds both stages below
    // the locate stage only needs the dup FLAG, not the exact distinct
    // count [[passageDups]] reports: h spans ≥ 2 distinct docs iff
    // min(doc_id) ≠ max(doc_id) — ONE plain aggregate (partial min/max
    // map-side, one exchange) instead of countDistinct's two-exchange
    // (h, doc_id) dedup + recount (r8; identical h-set by construction)
    val dups = wins.groupBy("h")
      .agg(min(col("doc_id")).as("__lo"), max(col("doc_id")).as("__hi"))
      .filter(col("__lo") =!= col("__hi"))
      .select("h")
    // PIN the build side (r8): dups — distinct duplicated hashes only — is
    // the provably small side of this join (boilerplate hashes ≪ window
    // occurrences). Left to AQE, the checkpointed wins table's small local
    // stats made it broadcast the CORPUS-side window table instead (fine at
    // sf0.1, catastrophic at scale); the hint keeps the shape right at any
    // size AQE would accept, and degrades to a shuffle equi-join beyond it.
    wins.join(broadcast(dups), "h")
      .select(col("doc_id"), col("start"), lower(hex(col("h"))).as("h"))
  }

  /** Apply the excision (Lee et al. §3 — the step [[passageDupLocations]]
    * exists to feed): remove every token covered by a flagged window
    * [start, start+window) (1-based starts, overlaps union) and rebuild the
    * doc as lowercased tokens joined by single spaces — the pipeline's
    * canonical text form under the SAME tokenization as [[passageHashes]].
    * Docs with no flagged windows pass through in canonical form with
    * `removed` = 0. Returns (doc_id, clean, removed).
    *
    * Shape: locations aggregate to one per-doc start list (bounded by the
    * doc's own token count — the same order as the text it annotates), then
    * ONE equi-join back to the corpus and a single compiled rebuild pass;
    * never an all-pairs product, no driver-side state.
    */
  def excisePassages(df: DataFrame, idCol: String, textCol: String,
      locations: DataFrame, window: Int = 8): DataFrame = {
    val w = window
    val locs = locations.groupBy(col("doc_id"))
      .agg(collect_list(col("start").cast("int")).as("__starts"))
    val rebuild = udf((t0: String, starts: Seq[Int]) => {
      // null text tolerated like every sibling kernel (passageHashes maps
      // null to no windows, so such docs arrive here with no locations)
      val t = if (t0 == null) "" else t0
      val toks = t.toLowerCase(java.util.Locale.ROOT)
        .split("[^a-z0-9]+").filter(_.nonEmpty)
      if (starts == null || starts.isEmpty) (toks.mkString(" "), 0)
      else {
        val cut = new Array[Boolean](toks.length)
        starts.foreach { s =>
          var i = math.max(s - 1, 0)
          val end = math.min(s - 1 + w, toks.length)
          while (i < end) { cut(i) = true; i += 1 }
        }
        val kept = new scala.collection.mutable.ArrayBuffer[String](toks.length)
        var i = 0
        var removed = 0
        while (i < toks.length) {
          if (cut(i)) removed += 1 else kept += toks(i)
          i += 1
        }
        (kept.mkString(" "), removed)
      }
    })
    df.select(col(idCol).as("doc_id"), col(textCol).as("__text"))
      .join(locs, Seq("doc_id"), "left")
      .select(col("doc_id"), rebuild(col("__text"), col("__starts")).as("__r"))
      .select(col("doc_id"), col("__r._1").as("clean"), col("__r._2").as("removed"))
  }

  /** Keep ONE representative per near-dup cluster — the removal step a
    * pipeline runs after candidate verification: cluster the verified
    * pairs ([[connectedComponents]]), keep each component's minimum id
    * (the canonical representative) plus every unclustered doc; the drop
    * set is exactly {id : component(id) ≠ id}, applied as a left-anti
    * equi-join (ids-only — no text moves). All columns of `df` pass
    * through.
    */
  def dropNearDuplicates(df: DataFrame, idCol: String, pairs: DataFrame,
      aCol: String = "id_a", bCol: String = "id_b"): DataFrame = {
    val drop = connectedComponents(pairs, aCol, bCol)
      .filter(col("id") =!= col("component"))
      .select(col("id").as("__dup_id"))
    df.join(drop, df(idCol) === col("__dup_id"), "left_anti")
  }

  /** Benchmark decontamination scoring (Brown et al., "Language Models are
    * Few-Shot Learners", NeurIPS 2020, Appendix C; the Dolma/“what's in my
    * big data” contamination check): score each corpus document by its
    * n-token-window overlap with an evaluation set. One row per CONTAMINATED
    * corpus doc: (doc_id, matched_windows, matched_grams) — the count of
    * window occurrences whose hash appears anywhere in the benchmark, and
    * the count of distinct such hashes. Callers drop or excise on a
    * threshold (GPT-3's rule was any-collision at n=13); [[decontaminate]]
    * is the drop form.
    *
    * Shape at 100 TB: the benchmark side reduces to DISTINCT window hashes
    * BEFORE the join — an eval suite is tiny next to a training corpus
    * (millions of grams vs trillions), so the post-distinct gram set sits
    * under the broadcast threshold and AQE plans a broadcast hash join: the
    * corpus's one expensive tokenize+hash scan is consumed exactly once
    * with NO corpus-side shuffle before the per-doc aggregate (itself an
    * equi-shuffle on doc_id with map-side partial agg). A pathologically
    * large bench side degrades gracefully to a shuffle equi-join on `h` —
    * never a product. Windows hash as in [[passageHashes]]; `h` never
    * leaves this op (the output is counts), so the bench distinct, the
    * broadcast and the per-doc aggregate all run on the 16-byte binary keys
    * of [[windowDigests]], with no hex encode at all.
    */
  def contamination(corpus: DataFrame, corpusId: String, corpusText: String,
      bench: DataFrame, benchText: String, window: Int = 8): DataFrame = {
    val benchGrams = cpuParallel(bench)
      .select(explode(windowDigests(col(benchText), window, identity)).as("h"))
      .distinct()
    // PIN the broadcast this op's scale story is built on (the scaladoc
    // above): the eval side's distinct grams are metadata-scale next to the
    // corpus, so the corpus scan must never shuffle for this join. AQE
    // already picked broadcast here from estimates; the hint makes the
    // shape deliberate rather than estimate-dependent (guide §3.1).
    cpuParallel(corpus)
      .select(col(corpusId).as("doc_id"),
        explode(windowDigests(col(corpusText), window, identity)).as("h"))
      .join(broadcast(benchGrams), "h")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("matched_windows"),
        countDistinct(col("h")).as("matched_grams"))
  }

  /** Drop-form decontamination: the corpus minus every document sharing at
    * least `minMatches` n-token windows with the benchmark (default: the
    * GPT-3 any-collision rule). A left-anti equi-join on doc_id against
    * [[contamination]]'s output — all columns of `corpus` pass through.
    */
  def decontaminate(corpus: DataFrame, corpusId: String, corpusText: String,
      bench: DataFrame, benchText: String, window: Int = 8,
      minMatches: Long = 1L): DataFrame = {
    val bad = contamination(corpus, corpusId, corpusText, bench, benchText, window)
      .filter(col("matched_windows") >= minMatches)
      .select(col("doc_id").as("__contaminated_id"))
    corpus.join(bad, corpus(corpusId) === col("__contaminated_id"), "left_anti")
  }

  /** Connected components over a near-dup pair list — the clustering step a
    * training-data dedup pipeline runs AFTER candidate verification (group
    * the verified pairs, keep one representative per group). Returns one row
    * per vertex: (`id`, `component`) where `component` is the component's
    * minimum member id (a canonical, deterministic cluster key — and the
    * conventional "representative to keep").
    *
    * Distributed min-label propagation with pointer jumping: every vertex
    * starts with itself as its label; each round takes the min of its own
    * and its neighbors' labels (one equi-join + one aggregate), then
    * shortcuts through its label's own label (label ← label(label), one
    * more equi-join) — the pointer-jumping step halves chain depth per
    * round, so fixpoint lands in O(log diameter) rounds even for
    * adversarial path graphs (the same doubling idea behind Kiveris et
    * al.'s large-star/small-star construction, "Connected Components in
    * MapReduce and Beyond", SoCC 2014). Near-dup components are
    * overwhelmingly tiny (pairs and short chains), so 2-3 rounds settle
    * real corpora. The loop is driver-paced with a per-round convergence
    * check and a localCheckpoint to cut the growing lineage (the standard
    * Spark iterative-graph pattern). Each round's checkpointed frames are
    * UNPERSISTED once the next round's are materialized — a long-lived
    * pipeline session holds at most one round's working set in executor
    * storage, not maxIter × 3 pinned datasets.
    */
  def connectedComponents(edges: DataFrame, aCol: String, bCol: String,
      maxIter: Int = 50): DataFrame = {
    val sym = edges.select(col(aCol).cast("long").as("id"), col(bCol).cast("long").as("nbr"))
      .unionAll(edges.select(col(bCol).cast("long").as("id"), col(aCol).cast("long").as("nbr")))
      .distinct()
      .localCheckpoint(true) // read the edge source once, not once per round
    // Eager checkpoint DELIBERATE (measured, guide §1.1): dropping it in
    // favor of letting round 1 re-derive the distinct through AQE exchange
    // reuse read 0.2–0.3 s SLOWER per query at sf0.1 (q_dedup_clusters warm
    // 0.91 → 1.12 s, q_dedup_apply 0.92 → 1.19 s) — the deeper round-1 DAG
    // costs more in stage scheduling than the one small checkpoint job saves.
    var labels = sym.select(col("id")).distinct()
      .withColumn("component", col("id"))
      .localCheckpoint(true)
    var it = 0
    var converged = false
    // convergence rides the round's ONE materialization as an accumulator
    // (round 6 paid 3 eager localCheckpoints + a driver isEmpty action per
    // round — 4 jobs; this is 1): the counting filter is always-true, marked
    // nondeterministic so Catalyst neither elides nor re-orders it, and task
    // RETRIES can only INFLATE a non-zero count — the zero/non-zero decision
    // the loop reads is exact (a converged round has nothing to add twice).
    val changed = sym.sparkSession.sparkContext.longAccumulator("graft.ccChanged")
    val bump = udf((c: Long, p: Long) => { if (c < p) changed.add(1L); true })
      .asNondeterministic()
    while (!converged && it < maxIter) {
      val nbrMin = sym
        .join(labels.select(col("id").as("nbr"), col("component").as("ncomp")), Seq("nbr"))
        .groupBy("id").agg(min("ncomp").as("nmin"))
      // NOT checkpointed: `stepped` is read twice inside one materialization
      // (left side + jump table) and its expensive stage — the nbrMin
      // aggregate exchange — is reused by Spark's ReuseExchange across the
      // two subtrees; a checkpoint here bought one cheap recompute for a
      // full extra write+read job per round
      val stepped = labels.join(nbrMin, Seq("id"), "left")
        .select(col("id"), col("component").as("prev"),
          least(col("component"), coalesce(col("nmin"), col("component"))).as("component"))
      // pointer jumping: label ← min(label, label(label)) — halves chain
      // depth each round, O(log diameter) total
      val jumpTbl = stepped.select(col("id").as("component"), col("component").as("jump"))
      changed.reset()
      val next = stepped.join(jumpTbl, Seq("component"), "left")
        .select(col("id"), col("prev"),
          least(col("component"), coalesce(col("jump"), col("component"))).as("component"))
        .filter(bump(col("component"), col("prev")))
        .select(col("id"), col("component"))
        .localCheckpoint(true) // the round's one job; cuts lineage growth too
      converged = changed.value == 0L
      // `next` is materialized (eager checkpoint) so the previous round's
      // blocks are dead — free them NOW, not at GC
      unpersistCheckpoint(labels)
      labels = next
      it += 1
    }
    lastCcRounds = it
    unpersistCheckpoint(sym) // the edge working set is dead once labels settle
    require(converged, s"connectedComponents did not converge in $maxIter rounds " +
      "(adversarially long chains — switch to the large-star/small-star variant)")
    // NB: the final `labels` frame stays persisted for the caller's
    // downstream consumption; the ContextCleaner releases it when the
    // returned frame goes out of scope.
    labels
  }

  /** Rounds the last [[connectedComponents]] call took to converge —
    * plan-shape evidence for tests/bench (O(log diameter) bound).
    */
  @volatile var lastCcRounds: Int = 0

  /** Drop the persisted blocks behind an eager `localCheckpoint` frame.
    * `Dataset.unpersist` only releases CacheManager entries, but a local
    * checkpoint pins its data as the underlying RDD's storage blocks — reach
    * through the `LogicalRDD` leaf (public Spark API) and unpersist the RDD.
    */
  private def unpersistCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed.collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr
    }.foreach { lr => lr.rdd.unpersist(false); () }
}
