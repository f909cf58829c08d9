package graft.index

import scala.collection.mutable.ArrayBuffer

/** Variable-byte (VByte) integer codec: 7 data bits per byte, high bit set on
  * the terminal byte (Lucene vint convention, SURVEY.md §4.2 — format chosen
  * per north_rule: docID-delta + frequency compressed with variable-byte
  * blocks plus skip pointers and block-max metadata).
  */
object VByte {
  def writeLong(v0: Long, out: ArrayBuffer[Byte]): Unit = {
    require(v0 >= 0, s"vbyte encodes non-negative values: $v0")
    var v = v0
    while (v >= 0x80L) {
      out += (v & 0x7f).toByte
      v >>>= 7
    }
    out += ((v & 0x7f) | 0x80).toByte
  }

  def writeInt(v: Int, out: ArrayBuffer[Byte]): Unit = writeLong(v.toLong, out)

  /** Mutable cursor decode. */
  final class Reader(bytes: Array[Byte]) {
    private var p = 0
    def hasNext: Boolean = p < bytes.length
    def readLong(): Long = {
      var v = 0L
      var shift = 0
      var b = bytes(p); p += 1
      while ((b & 0x80) == 0) {
        v |= (b & 0x7fL) << shift
        shift += 7
        b = bytes(p); p += 1
      }
      v | ((b & 0x7fL) << shift)
    }
    def readInt(): Int = readLong().toInt
  }

  def encodeInts(vs: Array[Int]): Array[Byte] = {
    val out = new ArrayBuffer[Byte](vs.length + 4)
    var i = 0
    while (i < vs.length) { writeInt(vs(i), out); i += 1 }
    out.toArray
  }

  def decodeInts(bytes: Array[Byte], n: Int): Array[Int] = {
    val r = new Reader(bytes)
    Array.fill(n)(r.readInt())
  }
}

/** One compressed posting block for a `(field, term)` run: up to
  * [[PostingCodec.BlockSize]] documents in ascending docId order.
  *
  * Skip pointer = (`firstDocId`, `lastDocId`) per block; block-max metadata =
  * `maxTf` + `minDlq` which bound the block's best achievable BM25
  * contribution (block-max WAND, SURVEY.md §4.2/§4.4). The quantized document
  * length (`dlq`, Lucene-norm equivalent — see [[graft.util.SmallFloat]]) is
  * stored inline per posting so scoring never joins back to the doc store.
  *
  * Blob layout (all VByte):
  *  - docsBlob:      docId deltas, first delta relative to `firstDocId` (=0)
  *  - freqsBlob:     term frequency per doc
  *  - normsBlob:     quantized field length per doc
  *  - positionsBlob: per doc, `freq` position deltas (first = absolute);
  *                   empty array when positions are not indexed
  *  - payloadsBlob:  per doc, `freq` length-prefixed byte strings (vbyte len
  *                   + bytes); empty array when the field's analyzer carries
  *                   no payloads — a field either always encodes payload
  *                   entries or never does, so blocks stay aligned
  *  - offsetsBlob:   per doc, `freq` (startDelta, length) vbyte pairs
  *                   (start delta relative to the previous start); empty
  *                   array unless the field is configured with offsets
  */
final case class PostingBlock(
    field: String,
    term: String,
    firstDocId: Long,
    lastDocId: Long,
    numDocs: Int,
    maxTf: Int,
    sumTf: Long,
    minDlq: Int,
    docsBlob: Array[Byte],
    freqsBlob: Array[Byte],
    normsBlob: Array[Byte],
    positionsBlob: Array[Byte],
    payloadsBlob: Array[Byte] = Array.empty,
    offsetsBlob: Array[Byte] = Array.empty
)

/** One decoded posting entry. `offsets` is flat (start0, end0, start1, …). */
final case class Posting(docId: Long, tf: Int, dlq: Int, positions: Array[Int],
    payloads: Array[Array[Byte]] = null, offsets: Array[Int] = null)

/** One raw posting as it flows through the build shuffle: positions (and
  * payloads/offsets) are ALREADY VByte-encoded by the tokenize pass, so the
  * block encoder just concatenates them — the shuffle carries compact bytes,
  * not int arrays.
  */
final case class RawPosting(docId: Long, tf: Int, dlq: Int, posBlob: Array[Byte],
    payBlob: Array[Byte] = null, offBlob: Array[Byte] = null)

object PostingCodec {
  val BlockSize = 128

  /** Delta-VByte-encode an ascending position list (first delta absolute). */
  def encodePositions(positions: Array[Int]): Array[Byte] = {
    if (positions == null || positions.isEmpty) return Array.empty
    val out = new ArrayBuffer[Byte](positions.length + 2)
    var prev = 0
    var j = 0
    while (j < positions.length) {
      VByte.writeInt(positions(j) - prev, out)
      prev = positions(j)
      j += 1
    }
    out.toArray
  }

  /** Length-prefix-encode one doc's per-position payloads (null entry ⇒
    * length 0). Returns null when `payloads` itself is null (field without
    * payloads).
    */
  def encodePayloads(payloads: Array[Array[Byte]]): Array[Byte] = {
    if (payloads == null) return null
    val out = new ArrayBuffer[Byte](payloads.length * 2)
    var i = 0
    while (i < payloads.length) {
      val p = payloads(i)
      if (p == null) VByte.writeInt(0, out)
      else {
        VByte.writeInt(p.length, out)
        out ++= p
      }
      i += 1
    }
    out.toArray
  }

  /** Delta-encode one doc's flat (start, end) offset pairs: per position,
    * vbyte(start − prevStart) + vbyte(end − start). Null in ⇒ null out.
    */
  def encodeOffsets(offsets: Array[Int]): Array[Byte] = {
    if (offsets == null) return null
    val out = new ArrayBuffer[Byte](offsets.length)
    var prevStart = 0
    var i = 0
    while (i < offsets.length) {
      val s = offsets(i)
      val e = offsets(i + 1)
      VByte.writeInt(s - prevStart, out)
      VByte.writeInt(e - s, out)
      prevStart = s
      i += 2
    }
    out.toArray
  }

  /** Encode one ≤BlockSize run of raw postings (ascending docId). */
  def encodeRaw(field: String, term: String, run: Seq[RawPosting]): PostingBlock = {
    require(run.nonEmpty && run.length <= BlockSize)
    // payload/offset layouts are all-or-none per (field, term) run —
    // guaranteed by the tokenize pass (uniform per field configuration)
    require(run.forall(_.payBlob == null) || run.forall(_.payBlob != null),
      s"mixed payload layout in $field:$term")
    require(run.forall(_.offBlob == null) || run.forall(_.offBlob != null),
      s"mixed offsets layout in $field:$term")
    val docs = new ArrayBuffer[Byte](run.length * 2)
    val freqs = new ArrayBuffer[Byte](run.length)
    val norms = new ArrayBuffer[Byte](run.length)
    val poss = new ArrayBuffer[Byte]()
    val pays = new ArrayBuffer[Byte]()
    val offs = new ArrayBuffer[Byte]()
    var prevDoc = run.head.docId
    var maxTf = 0
    var sumTf = 0L
    var minDlq = Int.MaxValue
    var i = 0
    while (i < run.length) {
      val p = run(i)
      require(i == 0 || p.docId > prevDoc, s"postings must be strictly ascending at ${p.docId}")
      VByte.writeLong(p.docId - prevDoc, docs) // first delta = 0
      prevDoc = p.docId
      VByte.writeInt(p.tf, freqs)
      VByte.writeInt(p.dlq, norms)
      if (p.posBlob != null) poss ++= p.posBlob
      if (p.payBlob != null) pays ++= p.payBlob
      if (p.offBlob != null) offs ++= p.offBlob
      if (p.tf > maxTf) maxTf = p.tf
      sumTf += p.tf
      if (p.dlq < minDlq) minDlq = p.dlq
      i += 1
    }
    PostingBlock(field, term, run.head.docId, run.last.docId, run.length, maxTf, sumTf, minDlq,
      docs.toArray, freqs.toArray, norms.toArray, poss.toArray, pays.toArray, offs.toArray)
  }

  /** Encode from decoded postings (tests/small paths). */
  def encodeBlock(field: String, term: String, run: Seq[Posting]): PostingBlock =
    encodeRaw(field, term,
      run.map(p => RawPosting(p.docId, p.tf, p.dlq, encodePositions(p.positions),
        encodePayloads(p.payloads), encodeOffsets(p.offsets))))

  /** Split an ascending posting iterator for one (field, term) run into
    * encoded blocks of BlockSize.
    */
  def encodeRun(field: String, term: String, postings: Iterator[Posting]): Iterator[PostingBlock] =
    postings.grouped(BlockSize).map(g => encodeBlock(field, term, g))

  /** Decode the scoring columns only (docIds, tfs, norms) — callers project
    * away `positionsBlob` so the parquet scan never reads it.
    */
  def decodeScore(firstDocId: Long, numDocs: Int, docsBlob: Array[Byte],
      freqsBlob: Array[Byte], normsBlob: Array[Byte]): Array[Posting] = {
    val docs = new VByte.Reader(docsBlob)
    val freqs = new VByte.Reader(freqsBlob)
    val norms = new VByte.Reader(normsBlob)
    val out = new Array[Posting](numDocs)
    var doc = firstDocId
    var i = 0
    while (i < numDocs) {
      doc += docs.readLong()
      out(i) = Posting(doc, freqs.readInt(), norms.readInt(), null)
      i += 1
    }
    out
  }

  /** Decode only the docIds of a block (facet/docvalue reconstruction). */
  def decodeDocIds(firstDocId: Long, numDocs: Int, docsBlob: Array[Byte]): Array[Long] = {
    val docs = new VByte.Reader(docsBlob)
    val out = new Array[Long](numDocs)
    var doc = firstDocId
    var i = 0
    while (i < numDocs) { doc += docs.readLong(); out(i) = doc; i += 1 }
    out
  }

  /** Decode `b` and assert its block invariants: posting count, skip
    * pointers (first/last docId), strictly ascending docIds and the
    * block-max metadata (maxTf, sumTf). Throws on the first violation.
    */
  def checkBlock(b: PostingBlock): Unit = {
    val ps = decodeBlock(b, withPositions = true)
    require(ps.length == b.numDocs, s"numDocs mismatch in ${b.field}:${b.term}")
    require(ps.head.docId == b.firstDocId && ps.last.docId == b.lastDocId,
      s"skip-pointer mismatch in ${b.field}:${b.term}")
    ps.sliding(2).foreach {
      case Array(a, c) => require(a.docId < c.docId, "non-monotone docIds")
      case _           =>
    }
    require(ps.map(_.tf).max == b.maxTf && ps.map(_.tf.toLong).sum == b.sumTf,
      s"block-max metadata mismatch in ${b.field}:${b.term}")
  }

  /** Decode a block. `withPositions=false` skips position materialization;
    * `withPayloads`/`withOffsets` additionally materialize per-position
    * payloads / (start, end) character offsets.
    */
  def decodeBlock(b: PostingBlock, withPositions: Boolean,
      withPayloads: Boolean = false, withOffsets: Boolean = false): Array[Posting] = {
    val docs = new VByte.Reader(b.docsBlob)
    val freqs = new VByte.Reader(b.freqsBlob)
    val norms = new VByte.Reader(b.normsBlob)
    val poss = new VByte.Reader(b.positionsBlob)
    val hasPos = b.positionsBlob.nonEmpty
    val hasPay = withPayloads && b.payloadsBlob != null && b.payloadsBlob.nonEmpty
    val hasOff = withOffsets && b.offsetsBlob != null && b.offsetsBlob.nonEmpty
    val offR = if (hasOff) new VByte.Reader(b.offsetsBlob) else null
    var payAt = 0
    val out = new Array[Posting](b.numDocs)
    var doc = b.firstDocId
    var i = 0
    while (i < b.numDocs) {
      doc += docs.readLong()
      val tf = freqs.readInt()
      val dlq = norms.readInt()
      val positions: Array[Int] =
        if (hasPos) {
          var prev = 0
          val arr = new Array[Int](tf)
          var j = 0
          while (j < tf) { prev += poss.readInt(); arr(j) = prev; j += 1 }
          if (withPositions) arr else null
        } else null
      val payloads: Array[Array[Byte]] =
        if (hasPay) {
          val arr = new Array[Array[Byte]](tf)
          var j = 0
          while (j < tf) {
            val len = readVInt(b.payloadsBlob, payAt)
            payAt = len._2
            arr(j) = java.util.Arrays.copyOfRange(b.payloadsBlob, payAt, payAt + len._1)
            payAt += len._1
            j += 1
          }
          arr
        } else null
      val offsets: Array[Int] =
        if (hasOff) {
          val arr = new Array[Int](tf * 2)
          var prevStart = 0
          var j = 0
          while (j < tf) {
            prevStart += offR.readInt()
            arr(j * 2) = prevStart
            arr(j * 2 + 1) = prevStart + offR.readInt()
            j += 1
          }
          arr
        } else null
      out(i) = Posting(doc, tf, dlq, positions, payloads, offsets)
      i += 1
    }
    out
  }

  /** Read one vbyte int at `at`; returns (value, position after). */
  private def readVInt(bytes: Array[Byte], at: Int): (Int, Int) = {
    var v = 0L
    var shift = 0
    var p = at
    var b = bytes(p); p += 1
    while ((b & 0x80) == 0) {
      v |= (b & 0x7fL) << shift
      shift += 7
      b = bytes(p); p += 1
    }
    ((v | ((b & 0x7fL) << shift)).toInt, p)
  }
}
