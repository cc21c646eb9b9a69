package graft.sketch

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}
import org.apache.datasketches.kll.KllDoublesSketch
import org.apache.datasketches.memory.Memory
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate

import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{BinaryType, DataType}
import scala.collection.mutable

/** Everything-in-one-pass per-partition statistics aggregate (Deequ-style
  * single-scan metric computation, from scratch).
  *
  * One `groupBy(part).agg(docStats($"spans", h))` computes, per partition:
  *   - doc count, span count, null-kind span count
  *   - span-kind histogram (exact)
  *   - KLL quantile sketch of span offsets
  *   - a BOUNDED deterministic feature sample: the `maxSample` docs with the
  *     smallest sampling hash, with the 6-dim drift feature vector computed
  *     imperatively inside the aggregate (only for rows that beat the current
  *     heap bound — the DRS-featurizer analog, see DocsGen.featurize)
  *
  * vs the naive plan (explode → two aggs + a second sampling scan) this is
  * ONE scan with NO explode and a shuffle of O(tasks × parts × bufferBytes):
  * the shape that survives 10^12 rows. Buffers are manually serialized
  * (fixed codec, no kryo) for the partial→final merge.
  */
case class DocStatsAgg(
    kindsChild: Expression, // array<string>: spans.kind
    offsetsChild: Expression, // array<int>: spans.offset
    hashChild: Expression,
    mediaRefsChild: Expression, // array<string>: spans.media_ref (or null literal)
    maxSample: Int = 1000,
    mode: Int = DocStatsAgg.ModeBoth, // ModeStats skips sampling, ModeSample skips stats
    // valid media_ref HASHES, broadcast once per run; when set, the same scan
    // also counts dangling media_refs (fused referential check, E6 broadcast
    // path) via allocation-free primitive-hash membership probes
    mediaSet: Option[org.apache.spark.broadcast.Broadcast[LongHashSet]] = None,
    // sorted, distinct CDF evaluation edges (the fitted reference window's
    // exact quantile grid — RefState.offsetEdges). When non-empty the scan
    // also counts offsets into the fixed bins [≤e0, (e0,e1], …, >eLast]:
    // pure integer sums, so the per-part CDF the KS/PSI drift checks consume
    // is EXACT and parallelism/merge-order-invariant — unlike the KLL
    // sketch, whose randomized compaction varies with merge order (the KLL
    // stays in the same pass for open-ended quantile metrics).
    edges: Seq[Double] = Nil,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[DocStatsBuffer]
  with org.apache.spark.sql.catalyst.trees.QuaternaryLike[Expression] {

  override def first: Expression = kindsChild
  override def second: Expression = offsetsChild
  override def third: Expression = hashChild
  override def fourth: Expression = mediaRefsChild

  @transient private lazy val edgesArr: Array[Double] = edges.toArray
  // one offset→bin table per task-deserialized agg instance, shared by all
  // its (part-grain) buffers — replaces a per-span binary search
  @transient private lazy val binLut: Array[Int] = DocStatsBuffer.binLutOf(edgesArr)

  override def createAggregationBuffer(): DocStatsBuffer =
    new DocStatsBuffer(maxSample, edgesArr, binLut)

  private val doStats = mode != DocStatsAgg.ModeSample
  private val doSample = mode != DocStatsAgg.ModeStats
  @transient private lazy val validRefs = mediaSet.map(_.value).orNull

  // PartStats.fusedFrame pre-projects the field arrays and the sampling
  // hash, so at execution the children are BoundReferences — read them by
  // ordinal (null-guarded) instead of Expression.eval, which for any
  // non-reference child would run GetArrayStructFields/xxhash64 INTERPRETED
  // once per row inside this update loop. -1 = fall back to eval.
  @transient private lazy val ordK = DocStatsAgg.ordinalOf(kindsChild)
  @transient private lazy val ordO = DocStatsAgg.ordinalOf(offsetsChild)
  @transient private lazy val ordH = DocStatsAgg.ordinalOf(hashChild)
  @transient private lazy val ordM = DocStatsAgg.ordinalOf(mediaRefsChild)

  @inline private def arrayAt(input: InternalRow, ord: Int, child: Expression)
      : org.apache.spark.sql.catalyst.util.ArrayData =
    if (ord >= 0) { if (input.isNullAt(ord)) null else input.getArray(ord) }
    else child.eval(input).asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]

  override def update(buf: DocStatsBuffer, input: InternalRow): DocStatsBuffer = {
    val kinds = arrayAt(input, ordK, kindsChild)
    val offsets = arrayAt(input, ordO, offsetsChild)
    if (kinds == null || offsets == null) return buf
    val h =
      if (ordH >= 0) input.getLong(ordH)
      else hashChild.eval(input).asInstanceOf[Long]
    val refs =
      if (validRefs == null) null
      else arrayAt(input, ordM, mediaRefsChild)
    buf.updateDoc(kinds, offsets, h, doStats, doSample, refs, validRefs)
    buf
  }

  override def merge(buf: DocStatsBuffer, other: DocStatsBuffer): DocStatsBuffer = {
    buf.mergeIn(other)
    buf
  }

  override def eval(buf: DocStatsBuffer): Any = buf.serialize()
  override def serialize(buf: DocStatsBuffer): Array[Byte] = buf.serialize()
  override def deserialize(bytes: Array[Byte]): DocStatsBuffer =
    DocStatsBuffer.deserialize(bytes)

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false
  override def withNewMutableAggBufferOffset(offset: Int): DocStatsAgg =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): DocStatsAgg =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildrenInternal(f: Expression, s: Expression,
                                                 t: Expression, q: Expression): DocStatsAgg =
    copy(kindsChild = f, offsetsChild = s, hashChild = t, mediaRefsChild = q)
  override def prettyName: String = "doc_stats_agg"
}

object DocStatsAgg {
  val ModeBoth = 0
  val ModeStats = 1
  val ModeSample = 2

  private[sketch] def ordinalOf(e: Expression): Int = e match {
    case b: org.apache.spark.sql.catalyst.expressions.BoundReference => b.ordinal
    case _ => -1
  }

  /** Column API: spans.kind + spans.offset arrays + sampling hash →
    * binary-encoded DocStatsResult. Consuming the FIELD arrays (not the
    * whole struct array) lets parquet nested-column pruning skip the heavy
    * text bytes — the scans become bandwidth-proportional to the consumed
    * fields. When `mediaSet` is given, `mediaRefs` (spans.media_ref) is also
    * consumed and dangling refs counted in the same pass. */
  def docStats(kinds: Column, offsets: Column, hash: Column, maxSample: Int = 1000,
               mode: Int = ModeBoth,
               mediaRefs: Option[Column] = None,
               mediaSet: Option[org.apache.spark.broadcast.Broadcast[LongHashSet]] = None,
               edges: Seq[Double] = Nil): Column =
    ColumnBridge.toColumn(DocStatsAgg(
      ColumnBridge.toExpr(kinds), ColumnBridge.toExpr(offsets),
      ColumnBridge.toExpr(hash),
      mediaRefs.map(ColumnBridge.toExpr)
        .getOrElse(org.apache.spark.sql.catalyst.expressions.Literal(
          null, org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.StringType))),
      maxSample, mode, mediaSet, edges)
      .toAggregateExpression())
}

/** Decoded result of DocStatsAgg (driver-side). */
case class DocStatsResult(
    nDocs: Long,
    nSpans: Long,
    nullKindSpans: Long,
    ordViolationDocs: Long,
    nullKindDocs: Long,
    danglingRefSpans: Long,
    danglingRefDocs: Long,
    kindHist: Map[String, Long],
    kllBytes: Array[Byte],
    sample: Array[Array[Double]],
    // exact counts per fixed CDF bin (length = edges.length + 1, last bin =
    // "> last edge" overflow); empty when the agg ran without edges
    offsetEdgeCounts: Array[Long] = Array.empty)

/** Mutable aggregation buffer. Span struct layout: (kind, text, media_ref,
  * offset) — must match graft.model.DocModel.spanType field order. */
final class DocStatsBuffer(val maxSample: Int,
                           val edges: Array[Double] = Array.empty,
                           lut: Array[Int] = null) {
  var nDocs = 0L
  var nSpans = 0L
  var nullKindSpans = 0L
  var ordViolationDocs = 0L // docs with non-monotone span offsets
  var nullKindDocs = 0L // docs with >=1 null-kind span
  var danglingRefSpans = 0L // media_refs missing from the catalog (fused E6)
  var danglingRefDocs = 0L // docs with >=1 dangling media_ref
  // kind counts keyed by UTF8String (copied once on first sight) — linear
  // scan over the handful of kinds, ZERO per-span String allocation.
  // kindPrefixes/kindLens cache each key's (first-8-bytes, byteLen): for
  // keys <= 8 bytes (every realistic span kind) length+prefix equality IS
  // equality, so the per-span probe never touches the key bytes again —
  // JFR showed ByteArrayMethods.arrayEquals as a top-3 scan frame before.
  private var kindKeys = new Array[org.apache.spark.unsafe.types.UTF8String](8)
  private var kindPrefixes = new Array[Long](8)
  private var kindLens = new Array[Int](8)
  private var kindVals = new Array[Long](8)
  private var nKinds = 0
  var kll: KllDoublesSketch = KllDoublesSketch.newHeapInstance(200)
  // exact fixed-edge histogram (deterministic CDF for KS/PSI): bin j counts
  // offsets in (edges(j-1), edges(j)], bin edges.length counts > last edge
  var edgeHist: Array[Long] =
    if (edges.isEmpty) Array.emptyLongArray else new Array[Long](edges.length + 1)

  private def bumpEdgeBin(off: Int): Unit = {
    // first index j with off <= edges(j). Offsets are int document
    // positions over a small-integer edge grid, so the common path is an
    // O(1) table lookup ([[DocStatsBuffer.binLutOf]]) — the per-span
    // binary search this replaces was the r04 bench's measured low-core
    // CPU regression (~8 branchy compares x 4.5 spans x doc on the hot
    // scan). Out-of-table offsets fall back to the search semantics:
    // below 0 -> bin 0 (every edge is >= 0), beyond the last edge -> the
    // overflow bin.
    val bin =
      if (lut != null) {
        if (off < 0) 0
        else if (off >= lut.length) edges.length
        else lut(off)
      } else {
        val idx = java.util.Arrays.binarySearch(edges, off.toDouble)
        if (idx >= 0) idx else -idx - 1
      }
    edgeHist(bin) += 1L
  }
  // bounded sample: keep maxSample entries with SMALLEST hash; max-heap by h
  // (tiebreak: elementwise feature compare — allocation-free, deterministic)
  val sampleOrd: Ordering[(Long, Array[Double])] = DocStatsBuffer.SampleOrd
  val sample: mutable.PriorityQueue[(Long, Array[Double])] =
    mutable.PriorityQueue.empty(sampleOrd)

  private def bumpKind(k: org.apache.spark.unsafe.types.UTF8String): Unit = {
    val len = k.numBytes()
    val p = k.getPrefix
    var i = 0
    while (i < nKinds) {
      if (kindLens(i) == len && kindPrefixes(i) == p &&
          (len <= 8 || kindKeys(i).equals(k))) { kindVals(i) += 1L; return }
      i += 1
    }
    if (nKinds == kindKeys.length) {
      kindKeys = java.util.Arrays.copyOf(kindKeys, nKinds * 2)
      kindPrefixes = java.util.Arrays.copyOf(kindPrefixes, nKinds * 2)
      kindLens = java.util.Arrays.copyOf(kindLens, nKinds * 2)
      kindVals = java.util.Arrays.copyOf(kindVals, nKinds * 2)
    }
    kindKeys(nKinds) = k.clone() // copy out of the transient row buffer
    kindPrefixes(nKinds) = p
    kindLens(nKinds) = len
    kindVals(nKinds) = 1L
    nKinds += 1
  }

  def kindCounts: Map[String, Long] =
    (0 until nKinds).map(i => kindKeys(i).toString -> kindVals(i)).toMap

  def setKindCount(k: String, c: Long): Unit = {
    bumpKind(org.apache.spark.unsafe.types.UTF8String.fromString(k))
    kindVals(nKinds - 1) = c
  }

  def updateDoc(kinds: org.apache.spark.sql.catalyst.util.ArrayData,
                offsets: org.apache.spark.sql.catalyst.util.ArrayData, h: Long,
                doStats: Boolean = true, doSample: Boolean = true,
                mediaRefs: org.apache.spark.sql.catalyst.util.ArrayData = null,
                validRefs: LongHashSet = null): Unit = {
    val n = kinds.numElements()
    nDocs += 1
    nSpans += n
    if (mediaRefs != null && validRefs != null) {
      var i = 0
      var bad = false
      val nr = mediaRefs.numElements()
      while (i < nr) {
        if (!mediaRefs.isNullAt(i) &&
            !validRefs.contains(LongHashSet.hashUtf8(mediaRefs.getUTF8String(i)))) {
          danglingRefSpans += 1; bad = true
        }
        i += 1
      }
      if (bad) danglingRefDocs += 1
    }
    if (doStats) {
      var i = 0
      var prevOff = Int.MinValue
      var ord = false
      var nk = false
      while (i < n) {
        if (kinds.isNullAt(i)) { nullKindSpans += 1; nk = true }
        else bumpKind(kinds.getUTF8String(i))
        val off = offsets.getInt(i)
        if (i > 0 && off <= prevOff) ord = true
        prevOff = off
        kll.update(off.toDouble)
        if (edges.length > 0) bumpEdgeBin(off)
        i += 1
      }
      if (ord) ordViolationDocs += 1
      if (nk) nullKindDocs += 1
    }
    // admission uses the FULL SampleOrd (hash, then features), not the hash
    // alone: with a hash-only test, two candidates TIED with the boundary
    // hash would keep whichever arrived first — order-dependent, and
    // divergent from any sorted-take formulation of "the maxSample smallest".
    // The fast path (h strictly below/above the boundary) never computes
    // features for rejected rows; only a boundary hash TIE pays the feature
    // build.
    if (doSample) {
      if (sample.size < maxSample) sample.enqueue((h, features(kinds, offsets)))
      else {
        val hd = sample.head
        if (h < hd._1) {
          sample.enqueue((h, features(kinds, offsets))); sample.dequeue()
        } else if (h == hd._1) {
          val f = features(kinds, offsets)
          if (sampleOrd.compare((h, f), hd) < 0) {
            sample.enqueue((h, f)); sample.dequeue()
          }
        }
      }
    }
  }

  /** Imperative twin of graft.model.DocsGen.featurize — MUST stay in sync:
    * [n/8, meanGap/30, fracText, fracImage, meanAbsDev/15, fracNonPos].
    * Kind match via (len, prefix) — definitive for <=8-byte strings. */
  private val TEXT = org.apache.spark.unsafe.types.UTF8String.fromString("text")
  private val IMAGE = org.apache.spark.unsafe.types.UTF8String.fromString("image")
  private val TEXT_P = TEXT.getPrefix
  private val IMAGE_P = IMAGE.getPrefix

  private def features(kinds: org.apache.spark.sql.catalyst.util.ArrayData,
                       offsets: org.apache.spark.sql.catalyst.util.ArrayData): Array[Double] = {
    val n = kinds.numElements()
    var text = 0.0
    var image = 0.0
    var i = 0
    var prevOff = 0
    var sumGap = 0.0
    val nGaps = math.max(n - 1, 1)
    val gaps = new Array[Double](math.max(n - 1, 0))
    while (i < n) {
      if (!kinds.isNullAt(i)) {
        val k = kinds.getUTF8String(i)
        val len = k.numBytes()
        if (len == 4 && k.getPrefix == TEXT_P) text += 1
        else if (len == 5 && k.getPrefix == IMAGE_P) image += 1
      }
      val off = offsets.getInt(i)
      if (i > 0) {
        gaps(i - 1) = (off - prevOff).toDouble
        sumGap += gaps(i - 1)
      }
      prevOff = off
      i += 1
    }
    val meanGap = sumGap / nGaps
    var absDev = 0.0
    var nonPos = 0.0
    i = 0
    while (i < gaps.length) {
      absDev += math.abs(gaps(i) - meanGap)
      if (gaps(i) <= 0.0) nonPos += 1
      i += 1
    }
    Array(n / 8.0, meanGap / 30.0, text / n, image / n,
      (absDev / nGaps) / 15.0, nonPos / nGaps)
  }

  def mergeIn(other: DocStatsBuffer): Unit = {
    nDocs += other.nDocs
    nSpans += other.nSpans
    nullKindSpans += other.nullKindSpans
    ordViolationDocs += other.ordViolationDocs
    nullKindDocs += other.nullKindDocs
    danglingRefSpans += other.danglingRefSpans
    danglingRefDocs += other.danglingRefDocs
    var i = 0
    while (i < other.nKinds) {
      var j = 0
      var found = false
      while (j < nKinds && !found) {
        if (kindKeys(j).equals(other.kindKeys(i))) {
          kindVals(j) += other.kindVals(i); found = true
        }
        j += 1
      }
      if (!found) {
        if (nKinds == kindKeys.length) {
          kindKeys = java.util.Arrays.copyOf(kindKeys, nKinds * 2)
          kindPrefixes = java.util.Arrays.copyOf(kindPrefixes, nKinds * 2)
          kindLens = java.util.Arrays.copyOf(kindLens, nKinds * 2)
          kindVals = java.util.Arrays.copyOf(kindVals, nKinds * 2)
        }
        kindKeys(nKinds) = other.kindKeys(i)
        kindPrefixes(nKinds) = other.kindKeys(i).getPrefix
        kindLens(nKinds) = other.kindKeys(i).numBytes()
        kindVals(nKinds) = other.kindVals(i)
        nKinds += 1
      }
      i += 1
    }
    kll.merge(other.kll)
    if (other.edgeHist.length > 0) {
      if (edgeHist.length == 0) edgeHist = other.edgeHist.clone()
      else {
        require(edgeHist.length == other.edgeHist.length,
          s"edge-histogram width mismatch: ${edgeHist.length} vs ${other.edgeHist.length}")
        var j = 0
        while (j < edgeHist.length) { edgeHist(j) += other.edgeHist(j); j += 1 }
      }
    }
    other.sample.foreach { e =>
      // full-order admission (see updateDoc) — merge order can't change the
      // kept set on boundary hash ties
      if (sample.size < maxSample) sample.enqueue(e)
      else if (sampleOrd.compare(e, sample.head) < 0) {
        sample.enqueue(e)
        sample.dequeue()
      }
    }
  }

  def serialize(): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(maxSample)
    out.writeLong(nDocs); out.writeLong(nSpans); out.writeLong(nullKindSpans)
    out.writeLong(ordViolationDocs); out.writeLong(nullKindDocs)
    out.writeLong(danglingRefSpans); out.writeLong(danglingRefDocs)
    val kc = kindCounts
    out.writeInt(kc.size)
    kc.toSeq.sortBy(_._1).foreach { case (k, c) =>
      out.writeUTF(k); out.writeLong(c)
    }
    val kllBytes = kll.toByteArray
    out.writeInt(kllBytes.length); out.write(kllBytes)
    out.writeInt(edgeHist.length)
    edgeHist.foreach(out.writeLong)
    out.writeInt(sample.size)
    // UNSORTED: both consumers are order-insensitive (deserialize re-enqueues
    // into the heap; decodeResult sorts itself). The previous stringified
    // sortBy tiebreak here (Double.toString per COMPARISON — Scala sortBy
    // re-evaluates the key function each compare) measured as ~half the whole
    // scan's CPU in JFR (FloatingDecimal dtoa + ThreadLocal churn).
    sample.foreach { case (h, f) =>
      out.writeLong(h)
      out.writeInt(f.length)
      f.foreach(out.writeDouble)
    }
    out.flush()
    bos.toByteArray
  }
}

object DocStatsBuffer {
  /** O(1) offset→bin lookup for small-integer edge grids: lut(o) = first j
    * with o <= edges(j), for o in [0, lastEdge]. Returns null (binary-search
    * fallback) when the grid is empty, non-integral, negative, or wider
    * than 64 Ki values (the table is shared per aggregate instance; span
    * offsets are small int document positions, so real grids are a few
    * hundred entries). */
  def binLutOf(edges: Array[Double]): Array[Int] = {
    if (edges.isEmpty) return null
    val last = edges(edges.length - 1)
    if (last < 0 || last >= (1 << 16)) return null
    var i = 0
    while (i < edges.length) {
      val e = edges(i)
      if (e < 0 || e != math.rint(e)) return null
      i += 1
    }
    val lut = new Array[Int](last.toInt + 1)
    var j = 0
    var o = 0
    while (o < lut.length) {
      while (edges(j) < o) j += 1 // o <= last, so j stays in range
      lut(o) = j
      o += 1
    }
    lut
  }

  /** The deterministic sample ordering — (hash asc, then elementwise feature
    * compare), so the kept sample does not depend on row arrival order. */
  val SampleOrd: Ordering[(Long, Array[Double])] =
    new Ordering[(Long, Array[Double])] {
      def compare(a: (Long, Array[Double]), b: (Long, Array[Double])): Int = {
        val c = java.lang.Long.compare(a._1, b._1)
        if (c != 0) return c
        val (fa, fb) = (a._2, b._2)
        var i = 0
        while (i < fa.length && i < fb.length) {
          val cc = java.lang.Double.compare(fa(i), fb(i))
          if (cc != 0) return cc
          i += 1
        }
        Integer.compare(fa.length, fb.length)
      }
    }

  def deserialize(bytes: Array[Byte]): DocStatsBuffer = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val buf = new DocStatsBuffer(in.readInt())
    buf.nDocs = in.readLong(); buf.nSpans = in.readLong(); buf.nullKindSpans = in.readLong()
    buf.ordViolationDocs = in.readLong(); buf.nullKindDocs = in.readLong()
    buf.danglingRefSpans = in.readLong(); buf.danglingRefDocs = in.readLong()
    val nk = in.readInt()
    (0 until nk).foreach { _ =>
      val k = in.readUTF(); buf.setKindCount(k, in.readLong())
    }
    val kllLen = in.readInt()
    val kllBytes = new Array[Byte](kllLen)
    in.readFully(kllBytes)
    buf.kll = KllDoublesSketch.heapify(Memory.wrap(kllBytes))
    val ne = in.readInt()
    if (ne > 0) {
      // edge VALUES don't travel — merge/decode only need the counts
      buf.edgeHist = new Array[Long](ne)
      var j = 0
      while (j < ne) { buf.edgeHist(j) = in.readLong(); j += 1 }
    }
    val ns = in.readInt()
    (0 until ns).foreach { _ =>
      val h = in.readLong()
      val fl = in.readInt()
      buf.sample.enqueue((h, Array.fill(fl)(in.readDouble())))
    }
    buf
  }

  def decodeResult(bytes: Array[Byte]): DocStatsResult = {
    val buf = deserialize(bytes)
    DocStatsResult(buf.nDocs, buf.nSpans, buf.nullKindSpans,
      buf.ordViolationDocs, buf.nullKindDocs,
      buf.danglingRefSpans, buf.danglingRefDocs,
      buf.kindCounts.toMap, buf.kll.toByteArray,
      // ascending hash order (deterministic, allocation-free tiebreak)
      buf.sample.toArray.sorted(buf.sampleOrd).map(_._2),
      buf.edgeHist)
  }
}
