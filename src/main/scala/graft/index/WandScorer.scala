package graft.index

import scala.collection.mutable

/**
 * Posting-list cursor over the encoded sub-lists of ONE term within ONE
 * document shard (sub-lists from multiple segments, pre-sorted by
 * firstDoc; docId ranges are disjoint and ascending by construction —
 * see IndexBuilder docId layout). Blocks are decoded lazily: advanceTo()
 * walks skip entries and only decodes the landing block, which is the
 * practical win of block-structured postings (Lucene skip data; block-max
 * metadata per Ding & Suel, WSDM 2011).
 */
/** The movement interface the conjunctive leapfrog drives: a concrete
  * term's posting cursor, or the union of several (a prefix expansion). */
sealed trait DocCursor {
  def exhausted: Boolean
  def curDoc: Long
  def advanceTo(target: Long): Unit
  def nextDoc(): Unit
}

/** Sorted-docId-array cursor — the ALLOWED set of a metadata-filtered
  * search (the ES filter-context bitset analogue). advanceTo
  * binary-searches forward, so a selective filter leapfrogs the scored
  * walk the way a rare term would. Dense docId sets pack into
  * BitmapDocCursor instead (the WandScorer.allowedCursor factory picks);
  * the sorted array is the format-free baseline for sparse sets. */
final class ArrayDocCursor(docs: Array[Long]) extends DocCursor {
  private var i = 0
  def exhausted: Boolean = i >= docs.length
  def curDoc: Long = docs(i)
  def advanceTo(target: Long): Unit =
    if (!exhausted && docs(i) < target) {
      var pos = java.util.Arrays.binarySearch(docs, i + 1, docs.length, target)
      if (pos < 0) pos = -pos - 1
      i = pos
    }
  def nextDoc(): Unit = i += 1
}

/** Bitmap allowed-set cursor: a roaring-style array of 2^16-bit dense
  * containers keyed by (docId >>> 16), minus the sparse-container
  * variants — the docId layout (batch|shard|idx) packs a shard's docs
  * contiguously in the low bits, so a filtered shard's allowed set
  * arrives dense and stores at ~1 bit/doc against the sorted array's
  * 8 B/doc (the upgrade WandScorer's scaladoc promised; sparse sets
  * stay on ArrayDocCursor via the allowedCursor factory). Skip shape
  * matches the array cursor: advanceTo binary-searches containers, then
  * word-scans within one — exactness is property-tested against
  * ArrayDocCursor in WandSpec. Input must be sorted ascending. */
final class BitmapDocCursor(sorted: Array[Long]) extends DocCursor {
  private val (keys, words) = {
    val ks = scala.collection.mutable.ArrayBuilder.make[Long]
    val ws = scala.collection.mutable.ArrayBuffer.empty[Array[Long]]
    var curKey = -1L
    var i = 0
    while (i < sorted.length) {
      val d = sorted(i)
      val hk = d >>> 16
      if (hk != curKey) { ks += hk; ws += new Array[Long](1024); curKey = hk }
      val low = (d & 0xFFFF).toInt
      ws(ws.length - 1)(low >>> 6) |= 1L << (low & 63)
      i += 1
    }
    (ks.result(), ws.toArray)
  }
  private var ci = 0
  private var cd: Long = -1L
  private var fin = keys.isEmpty
  if (!fin) cd = firstAtOrAfter(0, 0)

  /** First set bit at/after low-bit `from` of container `c0`, walking
    * forward across containers; -1 (and fin=true) when none remain. */
  private def firstAtOrAfter(c0: Int, from0: Int): Long = {
    var c = c0
    var from = from0
    while (c < keys.length) {
      if (from < 65536) {
        val w = words(c)
        var wi = from >>> 6
        var word = w(wi) & (-1L << (from & 63))
        while (wi < 1024) {
          if (word != 0) {
            ci = c
            return (keys(c) << 16) |
              ((wi.toLong << 6) + java.lang.Long.numberOfTrailingZeros(word))
          }
          wi += 1
          if (wi < 1024) word = w(wi)
        }
      }
      c += 1
      from = 0
    }
    fin = true
    -1L
  }
  def exhausted: Boolean = fin
  def curDoc: Long = cd
  def advanceTo(target: Long): Unit = {
    if (fin || cd >= target) return
    val tk = target >>> 16
    var c = ci
    if (keys(c) < tk) {
      var lo = c + 1
      var hi = keys.length - 1
      if (lo > hi || keys(hi) < tk) { fin = true; return }
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (keys(mid) < tk) lo = mid + 1 else hi = mid
      }
      c = lo
    }
    cd = firstAtOrAfter(c, if (keys(c) == tk) (target & 0xFFFF).toInt else 0)
  }
  def nextDoc(): Unit =
    if (!fin) cd = firstAtOrAfter(ci, (cd & 0xFFFF).toInt + 1)
}

/** Union-of-cursors (the `term*` expansion in FILTER context): positioned
  * at the minimum current doc of its live members — "the doc contains at
  * least one expansion term". Never scores (constant-score semantics, the
  * Lucene multi-term rewrite in boolean context), so it carries no
  * idf/tf. Skip structure is preserved: advanceTo forwards to every
  * member, so a selective union binary-skips like its members do. */
final class UnionCursor(members: Seq[PostingCursor]) extends DocCursor {
  private var live: Array[PostingCursor] =
    members.filterNot(_.exhausted).toArray
  private var min: Long = recompute()
  private def recompute(): Long = {
    var m = Long.MaxValue
    var i = 0
    while (i < live.length) {
      val d = live(i).curDoc
      if (d < m) m = d
      i += 1
    }
    min = m
    m
  }
  private def prune(): Unit = {
    var any = false
    var i = 0
    while (i < live.length && !any) { any = live(i).exhausted; i += 1 }
    if (any) live = live.filterNot(_.exhausted)
  }
  def exhausted: Boolean = live.isEmpty
  def curDoc: Long = min
  def advanceTo(target: Long): Unit = {
    if (min >= target) return
    var i = 0
    while (i < live.length) { live(i).advanceTo(target); i += 1 }
    prune()
    recompute()
  }
  def nextDoc(): Unit = {
    val d = min
    var i = 0
    while (i < live.length) {
      if (!live(i).exhausted && live(i).curDoc == d) live(i).nextDoc()
      i += 1
    }
    prune()
    recompute()
  }
}

final class PostingCursor(val term: String, val idf: Double,
                          subLists: Seq[(Seq[Array[Byte]], Seq[Skip], Seq[Array[Byte]])],
                          bm25: Bm25) extends DocCursor {
  // flatten: global block arrays, ordered by firstDoc
  private val blocks: Array[Array[Byte]] = subLists.iterator.flatMap(_._1).toArray
  private val skips: Array[Skip] = subLists.iterator.flatMap(_._2).toArray
  // position streams, parallel to blocks; empty when the read path took
  // the scoring projection (or the index was built positions=false)
  private val posBlocks: Array[Array[Byte]] = subLists.iterator.flatMap(_._3).toArray
  /** Whether curPositions may be called on this cursor. */
  val hasPositions: Boolean = posBlocks.length == blocks.length && blocks.length > 0
  require(blocks.length == skips.length)
  // the cursor's skip search requires globally ascending, non-interleaved
  // blocks; segment ranges that overlap (a merge-policy bug) must fail
  // loudly here instead of silently mis-skipping
  locally {
    var i = 1
    while (i < skips.length) {
      require(skips(i).firstDoc > skips(i - 1).lastDoc,
        s"interleaved posting blocks for term '$term': " +
          s"block ${i - 1} ends at ${skips(i - 1).lastDoc}, " +
          s"block $i starts at ${skips(i).firstDoc}")
      i += 1
    }
  }

  /** Safe global upper bound of this term's contribution to any doc. */
  val maxScore: Double = {
    var m = 0.0
    var i = 0
    while (i < skips.length) {
      val ub = bm25.upperBound(idf, skips(i).maxTf, skips(i).minDl)
      if (ub > m) m = ub
      i += 1
    }
    m
  }

  private var blockIdx = 0
  private var docs: Array[Long] = _
  private var tfs: Array[Int] = _
  private var dls: Array[Int] = _
  private var inBlock = 0
  private var finished = blocks.isEmpty
  if (!finished) loadBlock(0)

  private def loadBlock(b: Int): Unit = {
    blockIdx = b
    val (d, t, l) = Codec.decodeBlock(blocks(b), skips(b).firstDoc)
    docs = d; tfs = t; dls = l; inBlock = 0
  }

  def exhausted: Boolean = finished
  def curDoc: Long = docs(inBlock)
  def curTf: Int = tfs(inBlock)
  def curDl: Int = dls(inBlock)
  // positions of the CURRENT posting, decoded lazily once per block
  private var posDecodedFor = -1
  private var posDecoded: Array[Array[Int]] = _
  def curPositions: Array[Int] = {
    require(hasPositions,
      s"posting list for '$term' carries no positions (scoring " +
        "projection, or an index built with positions=false)")
    if (posDecodedFor != blockIdx) {
      posDecoded = Codec.decodePositions(posBlocks(blockIdx), tfs)
      posDecodedFor = blockIdx
    }
    posDecoded(inBlock)
  }
  def curScore: Double = bm25.score(idf, tfs(inBlock), dls(inBlock))
  /** Upper bound of the current block (valid for docs <= blockLastDoc). */
  def blockMaxScore: Double =
    bm25.upperBound(idf, skips(blockIdx).maxTf, skips(blockIdx).minDl)
  def blockLastDoc: Long = skips(blockIdx).lastDoc

  def nextDoc(): Unit = {
    inBlock += 1
    if (inBlock >= docs.length) {
      if (blockIdx + 1 < blocks.length) loadBlock(blockIdx + 1)
      else finished = true
    }
  }

  /** Position at first doc >= target. Skips whole blocks via skip entries
    * (no decode), binary-searches within the landing block. */
  def advanceTo(target: Long): Unit = {
    if (finished || curDoc >= target) return
    if (target > skips(blockIdx).lastDoc) {
      // find first block with lastDoc >= target (blocks sorted by firstDoc)
      var lo = blockIdx + 1
      var hi = blocks.length - 1
      if (lo > hi || skips(hi).lastDoc < target) { finished = true; return }
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (skips(mid).lastDoc < target) lo = mid + 1 else hi = mid
      }
      loadBlock(lo)
    }
    // within-block: first idx with doc >= target
    var lo = inBlock
    var hi = docs.length - 1
    if (docs(hi) < target) { // can't happen (lastDoc >= target), defensive
      finished = true; return
    }
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (docs(mid) < target) lo = mid + 1 else hi = mid
    }
    inBlock = lo
  }
}

/**
 * Exact top-k scorers over one shard's posting cursors.
 * Exactness is property-tested against exhaustive scoring (WandSpec):
 * pruning only uses safe upper bounds and keeps candidates whose bound
 * TIES the threshold (tie-breaks are by docId and must be evaluated).
 */
object WandScorer {

  /** Allowed-set cursor over a SORTED docId array: bitmap-backed when
    * its POPULATED containers beat the 8 B/doc array (8 KiB per 64Ki-doc
    * container, counted in one pass — a global-span density test gets
    * this wrong: shard bits sit high in the docId, so a corpus-wide
    * filter is sparse across the id space but dense per container), the
    * plain sorted array otherwise. Same DocCursor contract either way. */
  def allowedCursor(sorted: Array[Long]): DocCursor =
    if (sorted.length >= 4096 && {
      var containers = 1L
      var i = 1
      while (i < sorted.length) {
        if ((sorted(i) >>> 16) != (sorted(i - 1) >>> 16)) containers += 1
        i += 1
      }
      containers * 1024 < sorted.length // containers*8KiB < n*8B
    }) new BitmapDocCursor(sorted)
    else new ArrayDocCursor(sorted)

  /** Disjunctive BM25 top-k via WAND (Broder et al., CIKM 2003) with
    * block-level skipping AND MAXSCORE-style term omission (Turtle &
    * Flood '95; the hybrid per Mallia et al.): once the heap is full,
    * terms whose combined upper bound stays strictly below the
    * threshold are NON-ESSENTIAL — their posting lists are never walked
    * to generate candidates, only skip-advanced to candidates the
    * essential terms produce. For a query mixing selective identifiers
    * with stopword-dense code tokens this turns "decode every posting
    * of `def`" into "binary-skip `def` to the few candidate docs".
    * Omission is GATED (see below): it engages only when the omitted
    * budget is small next to the threshold, because the omitted lists'
    * global bounds are looser than the per-block bounds they replace.
    * A query of ONLY dense terms keeps all terms essential (exact top-k
    * cannot omit them) — that path stays linear by nature and is
    * documented in BENCH/BASELINE.md.
    *
    * `queryOrder` fixes the float summation order. Cursors map must be
    * keyed by term. Exactness (incl. the tie-at-threshold rule: only
    * STRICTLY-below bounds are omitted) is property-tested against
    * exhaustive scoring in WandSpec. */
  def topK(queryOrder: Seq[String], cursorsByTerm: Map[String, PostingCursor],
           k: Int, required: Seq[DocCursor] = Nil,
           after: Option[(Double, Long)] = None,
           minMatch: Int = 1): Seq[ScoredDoc] = {
    val top = new ScoredDoc.TopK(k)
    // search_after cursor: only docs STRICTLY after (score, docId) in
    // the global (score desc, docId asc) order may heap. Scores are
    // bit-stable across calls (fixed-order sums), so the strict
    // comparison is exact. Bounds/θ logic is untouched — a doc may be
    // fully evaluated and then refused here; the heap only ever holds
    // eligible docs, so its threshold stays a valid pruning bound.
    val (afScore, afDoc) = after.getOrElse((Double.PositiveInfinity, -1L))
    // `required` cursors are FILTER-context gates (a metadata-filtered
    // search's allowed set): a pivot they don't contain is leapfrogged
    // to their next allowed doc without scoring; they never contribute
    // to bounds (which only err safe — larger — without them).
    val reqArr = required.toArray
    if (reqArr.exists(_.exhausted)) return Nil
    val live = mutable.ArrayBuffer.empty[PostingCursor]
    queryOrder.foreach(t => cursorsByTerm.get(t).foreach { c =>
      if (!c.exhausted) live += c
    })
    // maxScore is FIXED per cursor: sort once; filterInPlace below keeps
    // relative order, so `live` stays maxScore-ascending for the split
    // (was a fresh O(T log T) sort + allocation per pivot iteration)
    val sortedLive = live.sortBy(_.maxScore)
    live.clear()
    live ++= sortedLive
    val ordered: Array[PostingCursor] =
      queryOrder.flatMap(cursorsByTerm.get).toArray // frozen sum order
    // the essential cursors in curDoc order, rebuilt in place per pivot
    val sorted = new Array[PostingCursor](live.length)

    while (live.nonEmpty) {
      // minimum_should_match-aware exit: fewer live DISTINCT-term cursors
      // than the coverage gate means no remaining doc can qualify
      if (live.length < minMatch) return top.result()
      val theta = top.threshold
      // MAXSCORE split: cheapest-bound-first, the longest prefix whose
      // cumulative upper bound stays STRICTLY below theta cannot lift
      // any doc into the heap on its own — non-essential.
      val byMax = live
      var nonEssUb = 0.0
      var split = 0
      if (top.isFull) {
        while (split < byMax.length &&
               nonEssUb + byMax(split).maxScore < theta) {
          nonEssUb += byMax(split).maxScore
          split += 1
        }
        // GATE: omission replaces the omitted lists' per-block bounds
        // with their loose global max inside every pivot/block-max test.
        // When the omitted budget is a large fraction of theta (the
        // all-dense shape: every term's bound is comparable), that
        // looseness kills block skipping and costs far more than the
        // omission saves — measured 5x (p50 0.44 -> 2.3 s) on the
        // tf-dense 2M-doc corpus. Omit only when the omitted budget is
        // under 10% of theta (the selective-term-plus-stopword shape
        // the technique exists for) — measured free at 2M when inactive.
        if (nonEssUb >= 0.1 * theta) { split = 0; nonEssUb = 0.0 }
      }
      // byMax(0 until split) are the non-essential cursors, the rest
      // essential
      val nEss = byMax.length - split
      if (nEss == 0) return top.result() // nothing can make the heap
      // WAND pivot among ESSENTIAL cursors only; every doc's potential
      // non-essential contribution is bounded by nonEssUb. A stable
      // insertion sort by curDoc: the order sortBy gave, without its
      // allocations (a query has few cursors)
      var e = 0
      while (e < nEss) {
        val c = byMax(split + e)
        var b = e - 1
        while (b >= 0 && sorted(b).curDoc > c.curDoc) { sorted(b + 1) = sorted(b); b -= 1 }
        sorted(b + 1) = c
        e += 1
      }
      var acc = nonEssUb
      var p = -1
      var i = 0
      while (i < nEss && p < 0) {
        acc += sorted(i).maxScore
        // mm-AWARE pivot bound: the candidate sorted(i).curDoc can be
        // matched by at most the i+1 essential cursors at-or-before it
        // plus every omitted cursor — below minMatch the doc can never
        // pass the coverage gate, so the pivot moves right and the walk
        // leapfrogs like a conjunction (was evaluation-time only; the
        // bound is safe because it only ever OVERCOUNTS possible matches)
        if ((!top.isFull || acc >= theta) &&
            i + 1 + split >= minMatch) p = i
        i += 1
      }
      if (p < 0) return top.result() // no doc can make the heap
      val pivotDoc = sorted(p).curDoc
      // filter gate: a pivot outside the allowed set can never score —
      // hop the aligned prefix straight to the filter's next allowed doc
      var filteredOut = false
      if (reqArr.nonEmpty && sorted(0).curDoc == pivotDoc) {
        var f = 0
        while (!filteredOut && f < reqArr.length) {
          val rc = reqArr(f)
          rc.advanceTo(pivotDoc)
          if (rc.exhausted) return top.result() // no allowed docs remain
          if (rc.curDoc != pivotDoc) {
            val next = rc.curDoc
            var j3 = 0
            while (j3 <= p) { sorted(j3).advanceTo(next); j3 += 1 }
            filteredOut = true
          }
          f += 1
        }
      }
      if (filteredOut) {
        // fall through to the live-cursor prune at the loop bottom
      } else if (sorted(0).curDoc == pivotDoc) {
        // block-max refinement: bound using current blocks of essential
        // cursors at or before the pivot (plus the non-essential global
        // bound); strictly below a full heap's theta => the pivot doc
        // itself cannot enter — advance past it cheaply.
        var blockUb = nonEssUb
        var j = 0
        while (j <= p) { blockUb += sorted(j).blockMaxScore; j += 1 }
        var j2 = p + 1
        while (j2 < nEss && sorted(j2).curDoc == pivotDoc) {
          blockUb += sorted(j2).blockMaxScore; j2 += 1
        }
        if (top.isFull && blockUb < theta) {
          var j3 = 0
          while (j3 <= p) { sorted(j3).advanceTo(pivotDoc + 1); j3 += 1 }
        } else {
          // full evaluation: skip-advance the omitted lists to the
          // candidate, then sum in query-term order over ALL cursors
          // (counting matches for minimum_should_match — the coverage
          // gate only removes candidates, so WAND bounds stay valid;
          // an mm-aware pivot bound would prune harder, noted not built)
          var ne = 0
          while (ne < split) { byMax(ne).advanceTo(pivotDoc); ne += 1 }
          var s = 0.0
          var matched = 0
          var q = 0
          while (q < ordered.length) {
            val c = ordered(q)
            if (!c.exhausted && c.curDoc == pivotDoc) { s += c.curScore; matched += 1 }
            q += 1
          }
          if (matched >= minMatch &&
              (s < afScore || (s == afScore && pivotDoc > afDoc)))
            top.offer(ScoredDoc(pivotDoc, s))
          // move EVERY cursor off the evaluated doc (a non-essential
          // cursor left sitting on it could become essential later and
          // re-emit the doc)
          var j3 = 0
          while (j3 < nEss && sorted(j3).curDoc == pivotDoc) {
            sorted(j3).nextDoc(); j3 += 1
          }
          ne = 0
          while (ne < split) {
            if (!byMax(ne).exhausted && byMax(ne).curDoc == pivotDoc)
              byMax(ne).nextDoc()
            ne += 1
          }
        }
      } else {
        // advance essential cursors before the pivot up to the pivot doc
        var j = 0
        while (j < p) { sorted(j).advanceTo(pivotDoc); j += 1 }
      }
      live.filterInPlace(!_.exhausted)
    }
    top.result()
  }

  /** Does `phrase` occur at consecutive positions in the doc every
    * cursor is currently aligned on? Position arrays are ascending.
    * Anchors on the SPARSEST occurrence list (in a tf-dense doc the
    * rarest phrase word may occur 2x while the head occurs 30x — 15x
    * fewer anchor probes), then binary-searches the rest at their
    * relative offsets. */
  def phraseMatch(cursorsByTerm: Map[String, PostingCursor],
                  phrase: Seq[String]): Boolean = {
    val arrs = phrase.map(t => cursorsByTerm(t).curPositions)
    var mi = 0
    var i = 1
    while (i < arrs.length) {
      if (arrs(i).length < arrs(mi).length) mi = i
      i += 1
    }
    arrs(mi).exists { x0 =>
      val base = x0 - mi // position the phrase head would occupy
      var j = 0
      var ok = base >= 0
      while (ok && j < arrs.length) {
        if (j != mi &&
            java.util.Arrays.binarySearch(arrs(j), base + j) < 0) ok = false
        j += 1
      }
      ok
    }
  }

  /** In-order sloppy-span check (`"a b"~slop`) on the doc every cursor
    * is aligned on: do the span's tokens occur in ORDER with
    * (last − first) ≤ tokens−1+slop? Monotone per-term pointers over
    * the ascending position arrays — each array is walked at most once
    * per doc (greedy earliest-next is optimal per start position, so
    * the check is exact; parity vs QueryParser.nearMatch in WandSpec). */
  def sloppyMatch(cursorsByTerm: Map[String, PostingCursor],
                  phrase: Seq[String], slop: Int): Boolean = {
    val arrs = phrase.map(t => cursorsByTerm(t).curPositions)
    if (arrs.exists(_.isEmpty)) return false
    val limit = phrase.length - 1 + slop
    val idx = new Array[Int](arrs.length)
    val first = arrs.head
    var s = 0
    while (s < first.length) {
      val p1 = first(s)
      var prev = p1
      var j = 1
      while (j < arrs.length) {
        val a = arrs(j)
        while (idx(j) < a.length && a(idx(j)) <= prev) idx(j) += 1
        if (idx(j) >= a.length) return false // later starts need later hits
        prev = a(idx(j))
        j += 1
      }
      if (prev - p1 <= limit) return true
      s += 1
    }
    false
  }

  /** Conjunctive (AND-group) scoring: leapfrog intersection, rarest list
    * leads. Emits every matching doc with the group's summed score
    * (groupOrder fixes the float order). `phrases` adds positional
    * constraints (every phrase must occur consecutively in the doc);
    * phrase tokens are required to be part of groupOrder, so their
    * cursors are aligned on the candidate when the check runs. Scores
    * stay the plain AND-group sum — a phrase FILTERS, it does not boost
    * (frozen semantics, what the SQL oracle reproduces).
    *
    * Prohibitions (must_not): `negCursors` are exclusion lists — a
    * candidate any of them lands on is skipped (Lucene's must_not
    * iteration: the excluded list advances lazily alongside the
    * intersection, so the cost is its posting volume, never a corpus
    * walk). `negPhrases` carry their OWN cursor map per phrase (tokens
    * may overlap group terms — shared cursors would double-advance):
    * the doc is skipped iff every phrase token lands on it AND the
    * phrase occurs consecutively. Cheap checks run first: term
    * exclusions (skip-advance only), then required phrases, then
    * negated phrases (both decode positions). */
  def conjunctive(groupOrder: Seq[String], cursorsByTerm: Map[String, PostingCursor],
                  phrases: Seq[Seq[String]] = Nil,
                  prefixSets: Seq[Seq[PostingCursor]] = Nil,
                  negCursors: Seq[PostingCursor] = Nil,
                  negPhrases: Seq[(Seq[String], Map[String, PostingCursor])] = Nil,
                  nearSpans: Seq[(Seq[String], Int)] = Nil,
                  negNearSpans: Seq[(Seq[String], Int, Map[String, PostingCursor])] = Nil,
                  required: Seq[DocCursor] = Nil)
      : Iterator[ScoredDoc] = {
    val termCursors = groupOrder.flatMap(cursorsByTerm.get).toArray
    if (termCursors.length < groupOrder.length || termCursors.exists(_.exhausted))
      return Iterator.empty
    // each prefix requirement joins the leapfrog as ONE union cursor —
    // "the doc contains some expansion term"; an expansion with no live
    // cursor can never match (the group is dead in this shard)
    val unions = prefixSets.map(s => new UnionCursor(s))
    if (unions.exists(_.exhausted)) return Iterator.empty
    // `required` gates (a field filter's allowed set) join the leapfrog
    // like any conjunct: candidates outside them are hopped WITHOUT
    // decoding, and they contribute nothing to the score sum. They ride
    // at the END of the driver array so drivers(0) — the emission-side
    // nextDoc — stays a posting cursor (a group always has a positive
    // text anchor; the parser enforces it).
    if (required.exists(_.exhausted)) return Iterator.empty
    val drivers: Array[DocCursor] =
      (termCursors.map(c => c: DocCursor) ++ unions.map(u => u: DocCursor) ++
        required).toArray
    if (drivers.isEmpty) return Iterator.empty
    val negArr = negCursors.toArray
    // a negated phrase/span missing a token's cursor in this shard can
    // never occur here — drop it up front
    val negPhArr = negPhrases.filter { case (ph, cur) =>
      ph.forall(cur.contains) }.toArray
    val negNearArr = negNearSpans.filter { case (ph, _, cur) =>
      ph.forall(cur.contains) }.toArray
    def prohibitedByTerm(target: Long): Boolean = {
      var i = 0
      while (i < negArr.length) {
        val c = negArr(i)
        if (!c.exhausted) {
          c.advanceTo(target)
          if (!c.exhausted && c.curDoc == target) return true
        }
        i += 1
      }
      false
    }
    def prohibitedByPhrase(target: Long): Boolean = {
      var i = 0
      while (i < negPhArr.length) {
        val (ph, cur) = negPhArr(i)
        var landed = true
        ph.foreach { t =>
          val c = cur(t)
          if (landed && !c.exhausted) c.advanceTo(target)
          if (c.exhausted || c.curDoc != target) landed = false
        }
        if (landed && phraseMatch(cur, ph)) return true
        i += 1
      }
      var n = 0
      while (n < negNearArr.length) {
        val (ph, slop, cur) = negNearArr(n)
        var landed = true
        ph.foreach { t =>
          val c = cur(t)
          if (landed && !c.exhausted) c.advanceTo(target)
          if (c.exhausted || c.curDoc != target) landed = false
        }
        if (landed && sloppyMatch(cur, ph, slop)) return true
        n += 1
      }
      false
    }
    new Iterator[ScoredDoc] {
      private var nextHit: ScoredDoc = _
      private var done = false
      advance()
      private def advance(): Unit = {
        while (true) {
          if (drivers.exists(_.exhausted)) { done = true; return }
          var target = drivers(0).curDoc
          var aligned = true
          var i = 1
          while (i < drivers.length) {
            if (drivers(i).curDoc > target) { target = drivers(i).curDoc; aligned = false }
            else if (drivers(i).curDoc < target) aligned = false
            i += 1
          }
          if (aligned) {
            if (!prohibitedByTerm(target) &&
                phrases.forall(ph => phraseMatch(cursorsByTerm, ph)) &&
                nearSpans.forall(ns =>
                  sloppyMatch(cursorsByTerm, ns._1, ns._2)) &&
                !prohibitedByPhrase(target)) {
              // prefixes filter, never score: the sum runs over the
              // group's CONCRETE terms only (frozen order)
              var s = 0.0
              var q = 0
              while (q < termCursors.length) { s += termCursors(q).curScore; q += 1 }
              nextHit = ScoredDoc(target, s)
              drivers(0).nextDoc()
              return
            }
            // terms align but a phrase doesn't: skip this doc
            drivers(0).nextDoc()
          } else {
            var j = 0
            while (j < drivers.length) { drivers(j).advanceTo(target); j += 1 }
          }
        }
      }
      def hasNext: Boolean = !done
      def next(): ScoredDoc = { val h = nextHit; advance(); h }
    }
  }
}
