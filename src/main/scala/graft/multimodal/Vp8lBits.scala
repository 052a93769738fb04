package graft.multimodal

/** Canonical prefix codes for the VP8L (WebP lossless) bitstream —
  * the RFC 9649 conventions: bits pack LSB-first within bytes (read and
  * written through [[Bytes.LsbBitReader]] / [[Bytes.LsbBitWriter]]),
  * prefix codes are canonical Huffman codes assigned in symbol order
  * within each length, shorter lengths first, and the per-symbol code
  * is read MSB-of-code-last (i.e. each successive bit descends the
  * canonical tree).
  *
  * Shared by [[WebpCodec]]'s decoder and encoder so a round-trip
  * exercises one definition of the bit order and code construction.
  */
private[multimodal] object Vp8lBits {
  import Bytes.{LsbBitReader, LsbBitWriter}

  val MaxCodeLength = 15

  /** A canonical prefix code ready for bit-by-bit decode: per length,
    * the first canonical code value and the offset of its first symbol
    * in the sorted symbol table. `single` short-circuits the 0-bit
    * code (one-symbol alphabets consume no bits — the VP8L simple-code
    * degenerate case). */
  final class PrefixCode(lengths: Array[Int]) {
    private val single: Int = {
      val nz = lengths.indices.filter(lengths(_) > 0)
      if (nz.length == 1) nz.head else -1
    }
    // symbols sorted by (length, symbol); canonical first-code per length
    private val (sortedSyms, firstCode, firstSym) = {
      val counts = new Array[Int](MaxCodeLength + 1)
      lengths.foreach(l => if (l > 0) counts(l) += 1)
      val fc = new Array[Int](MaxCodeLength + 2)
      val fs = new Array[Int](MaxCodeLength + 2)
      var code = 0
      var sym = 0
      var l = 1
      while (l <= MaxCodeLength) {
        fc(l) = code
        fs(l) = sym
        code = (code + counts(l)) << 1
        sym += counts(l)
        l += 1
      }
      fs(MaxCodeLength + 1) = sym
      val ss = lengths.indices.filter(lengths(_) > 0)
        .sortBy(s => (lengths(s), s)).toArray
      (ss, fc, fs)
    }

    require(single >= 0 || isComplete,
      "prefix code lengths do not form a complete code")

    private def isComplete: Boolean = {
      // Kraft sum over the lengths must be exactly 1
      var sum = 0L
      lengths.foreach { l =>
        if (l > 0) sum += 1L << (MaxCodeLength - l)
      }
      sortedSyms.nonEmpty && sum == (1L << MaxCodeLength)
    }

    /** Decode one symbol: walk bits MSB-of-code-first. */
    def readSymbol(r: LsbBitReader): Int = {
      if (single >= 0) return single
      var code = 0
      var l = 0
      while (l < MaxCodeLength) {
        code = (code << 1) | r.bit()
        l += 1
        val count = firstSym(l + 1) - firstSym(l)
        if (count > 0 && code - firstCode(l) < count && code >= firstCode(l))
          return sortedSyms(firstSym(l) + (code - firstCode(l)))
      }
      throw new IllegalStateException("bad prefix code")
    }

    /** (code, length) per symbol for the encoder (canonical
      * assignment, bits emitted MSB-first so the decoder's walk reads
      * them back in order). */
    def encoderTable: Array[(Int, Int)] = {
      val table = new Array[(Int, Int)](lengths.length)
      if (single >= 0) { table(single) = (0, 0); return table }
      val nextCode = firstCode.clone()
      sortedSyms.foreach { s =>
        val l = lengths(s)
        table(s) = (nextCode(l), l)
        nextCode(l) += 1
      }
      table
    }
  }

  /** Write a symbol through the encoder table: the code's bits
    * MSB-first (each bit is what the decoder's tree walk consumes). */
  def writeSymbol(w: LsbBitWriter, table: Array[(Int, Int)], sym: Int): Unit = {
    val (code, len) = table(sym)
    var i = len - 1
    while (i >= 0) {
      w.bits((code >> i) & 1, 1)
      i -= 1
    }
  }

  /** Length-limited Huffman code lengths (simple frequency-halving
    * fallback when the optimal tree exceeds [[MaxCodeLength]] — fine
    * for fixture-scale alphabets). All-zero frequencies are invalid;
    * a single used symbol gets length 0 handled by the caller (VP8L
    * simple code). */
  def huffmanLengths(freq: Array[Long],
      maxLen: Int = MaxCodeLength): Array[Int] = {
    val used = freq.indices.filter(freq(_) > 0)
    require(used.nonEmpty, "empty alphabet")
    if (used.length == 1) {
      val out = new Array[Int](freq.length)
      out(used.head) = 1
      return out
    }
    var f = freq.map(math.max(_, 0L))
    var lengths: Array[Int] = null
    var ok = false
    while (!ok) {
      lengths = buildLengths(f)
      if (lengths.forall(_ <= maxLen)) ok = true
      else f = f.map(v => if (v > 0) (v + 1) / 2 else 0L)
    }
    lengths
  }

  private def buildLengths(freq: Array[Long]): Array[Int] = {
    // classic two-queue Huffman over (weight, node); parents summed
    case class Node(w: Long, syms: List[Int])
    val pq = scala.collection.mutable.PriorityQueue.empty[Node](
      Ordering.by[Node, Long](_.w).reverse)
    freq.indices.foreach(i => if (freq(i) > 0) pq.enqueue(Node(freq(i), List(i))))
    val depth = new Array[Int](freq.length)
    while (pq.size > 1) {
      val a = pq.dequeue(); val b = pq.dequeue()
      (a.syms ++ b.syms).foreach(s => depth(s) += 1)
      pq.enqueue(Node(a.w + b.w, a.syms ++ b.syms))
    }
    depth
  }

  /** The code-length-code transmission order (RFC 9649 §5.2.2). */
  val ClOrder: Array[Int] =
    Array(17, 18, 0, 1, 2, 3, 4, 5, 16, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15)
}
