package graft.multimodal

/** Progressive JPEG (SOF2) pixel decode — the T.81 Annex G Huffman
  * path, closing the seam [[JpegCodec]] documents: spectral-selection
  * bands, successive-approximation DC/AC first and refinement scans,
  * EOB-run decoding, per-scan restart intervals, and table
  * redefinition between scans. Shares the sequential decoder's
  * machinery (canonical Huffman reader, byte-unstuffing [[JpegCodec
  * .BitReader]], zigzag/dequant order, separable IDCT) — only the
  * scan-level coefficient accumulation is new.
  *
  * Luma-only output, like the sequential path: scans that include the
  * luma component are entropy-decoded (chroma blocks inside an
  * interleaved DC scan advance the bitstream and are discarded);
  * chroma-only scans are skipped wholesale by scanning to the next
  * marker — legal because entropy-coded data contains no bare 0xFF
  * except stuffed FF00 and RSTn. Coefficients accumulate in ONE
  * natural-order plane of w·h ints (progressive decode is inherently
  * whole-image: every scan touches every block), so the image-size cap
  * here is the memory bound per in-flight decode on an executor
  * thread, not a format limit.
  *
  * Exactness: the block-constant fixture property carries over
  * unchanged — a DC-only block renders identically from a sequential
  * or progressive stream (successive approximation of DC is exact
  * integer reassembly; AC scans of such blocks are pure EOB runs), so
  * planted progressive variants join the hash-green
  * mm_phash/mm_dedup_near oracles bit-for-bit.
  *
  * Hostile-input discipline matches [[JpegCodec]]: decode never throws
  * — truncated scans, invalid codes, band overruns, missing tables,
  * or malformed scan headers return None. A stream is rendered only
  * when its EOI is present (a progressive file is complete only at
  * EOI; partial-scan rendering is a quality policy this tier does not
  * need).
  *
  * Not supported (documented seams, like the sequential tier's):
  * arithmetic coding (SOF10), 12-bit precision, hierarchical mode,
  * and luma sampled below chroma.
  */
object JpegProgressive {
  import PixelCodec.Gray
  import JpegCodec._
  import Bytes.{be16, be16b, u8}

  private case class Comp(id: Int, h: Int, v: Int, tq: Int)

  def decode(b: Array[Byte]): Option[Gray] =
    try decode0(b)
    catch { case _: RuntimeException => None } // belt over the checks

  /** Index of the next true marker's 0xFF at/after `from`, treating
    * stuffed FF00, fill FF runs, and RSTn as scan data; -1 if none. */
  private def nextMarker(b: Array[Byte], from: Int): Int = {
    var p = from
    while (p + 1 < b.length) {
      if (u8(b, p) == 0xff) {
        val m = u8(b, p + 1)
        if (m == 0x00) p += 2
        else if (m == 0xff) p += 1
        else if (m >= 0xd0 && m <= 0xd7) p += 2
        else return p
      } else p += 1
    }
    -1
  }

  private def decode0(b: Array[Byte]): Option[Gray] = {
    if (b.length < 4 || u8(b, 0) != 0xff || u8(b, 1) != 0xd8) return None
    var p = 2
    val qt = new Array[Array[Int]](4)
    val dcT = new Array[Huff](4)
    val acT = new Array[Huff](4)
    var comps: Vector[Comp] = Vector.empty
    var w = 0; var h = 0
    var restartInterval = 0
    var hmax = 0; var vmax = 0
    var mcusX = 0; var mcusY = 0
    var blocksW = 0; var blocksH = 0 // padded luma block grid (MCU)
    var lumaBW = 0; var lumaBH = 0   // true (ceil) luma block dims
    var coef: Array[Int] = null      // natural order per block
    var sawEoi = false
    var sawLumaScan = false

    while (!sawEoi) {
      if (p + 2 > b.length) return None
      if (u8(b, p) != 0xff) return None
      val m = u8(b, p + 1)
      if (m == 0xff) { p += 1 }       // fill byte before a marker
      else if (m == 0xd9) { sawEoi = true }
      else if (m == 0xd8 || m == 0x01 || (m >= 0xd0 && m <= 0xd7)) {
        p += 2                         // standalone SOI/TEM/RSTn
      } else {
        if (p + 4 > b.length) return None
        val len = be16(b, p + 2)
        if (len < 2 || p + 2 + len > b.length) return None
        val seg = p + 4
        val segEnd = p + 2 + len
        var nextP = segEnd
        m match {
          case 0xdb => // DQT (may ride between scans)
            if (!readDqt(b, seg, segEnd, qt)) return None
          case 0xc4 => // DHT (redefinable between scans)
            if (!readDht(b, seg, segEnd, dcT, acT)) return None
          case 0xc2 => // SOF2: progressive DCT, Huffman
            if (coef != null) return None // one frame header only
            if (u8(b, seg) != 8) return None // 8-bit precision only
            h = be16(b, seg + 1); w = be16(b, seg + 3)
            val nc = u8(b, seg + 5)
            if (w <= 0 || h <= 0 || w.toLong * h > (1L << 24) ||
                (nc != 1 && nc != 3) || seg + 6 + nc * 3 > segEnd)
              return None
            comps = (0 until nc).map { i =>
              val o = seg + 6 + i * 3
              Comp(u8(b, o), u8(b, o + 1) >> 4, u8(b, o + 1) & 15,
                u8(b, o + 2))
            }.toVector
            if (comps.exists(c => c.h < 1 || c.h > 4 || c.v < 1 ||
                c.v > 4 || c.tq > 3)) return None
            hmax = comps.map(_.h).max
            vmax = comps.map(_.v).max
            // luma = first component at maximal sampling (JFIF shape)
            if (comps(0).h != hmax || comps(0).v != vmax) return None
            mcusX = (w + 8 * hmax - 1) / (8 * hmax)
            mcusY = (h + 8 * vmax - 1) / (8 * vmax)
            blocksW = mcusX * comps(0).h
            blocksH = mcusY * comps(0).v
            lumaBW = (w + 7) / 8
            lumaBH = (h + 7) / 8
            coef = new Array[Int](blocksW * blocksH * 64)
          case 0xc0 | 0xc1 | 0xc3 | 0xc5 | 0xc6 | 0xc7 | 0xc9 | 0xca |
               0xcb | 0xcd | 0xce | 0xcf =>
            return None // sequential handled by JpegCodec; others: no
          case 0xdd => // DRI
            if (len != 4) return None
            restartInterval = be16(b, seg)
          case 0xdc => return None // DNL: unsupported
          case 0xda => // SOS: one progressive scan
            if (coef == null) return None
            val ns = u8(b, seg)
            if (ns < 1 || ns > comps.length ||
                seg + 1 + ns * 2 + 3 > segEnd) return None
            val scanComps = new Array[Int](ns)
            val dcSel = new Array[Int](ns)
            val acSel = new Array[Int](ns)
            var i = 0
            var prev = -1
            while (i < ns) {
              val cs = u8(b, seg + 1 + i * 2)
              val ci = comps.indexWhere(_.id == cs)
              if (ci < 0 || ci <= prev) return None // SOF order, no dups
              prev = ci
              scanComps(i) = ci
              dcSel(i) = u8(b, seg + 2 + i * 2) >> 4
              acSel(i) = u8(b, seg + 2 + i * 2) & 15
              i += 1
            }
            val ss = u8(b, segEnd - 3)
            val se = u8(b, segEnd - 2)
            val ah = u8(b, segEnd - 1) >> 4
            val al = u8(b, segEnd - 1) & 15
            // G.1.1.1.1: DC scans are the 0..0 band (interleaving
            // allowed); AC scans are single-component 1..63 sub-bands;
            // a refinement refines exactly one bit (Ah = Al + 1)
            if (ss == 0) { if (se != 0) return None }
            else if (ns != 1 || ss > se || se > 63) return None
            if (al > 13 || (ah != 0 && ah != al + 1)) return None
            if (!scanComps.contains(0)) {
              // chroma-only scan: skip its entropy data wholesale
              val nm = nextMarker(b, segEnd)
              if (nm < 0) return None
              nextP = nm
            } else {
              sawLumaScan = true
              val endPos = decodeScan(b, segEnd, comps, scanComps,
                dcSel, acSel, dcT, acT, ss, se, ah, al,
                restartInterval, mcusX, mcusY, blocksW, lumaBW, lumaBH,
                coef)
              if (endPos < 0) return None
              val nm = nextMarker(b, endPos)
              if (nm < 0) return None
              nextP = nm
            }
          case _ => () // APPn/COM/etc.: skip
        }
        p = nextP
      }
    }

    if (coef == null || !sawLumaScan) return None
    val q = qt(comps(0).tq)
    if (q == null) return None

    // dequantize + IDCT every luma block into the padded plane
    val lumaW = blocksW * 8
    val luma = new Array[Int](lumaW * blocksH * 8)
    val dq = new Array[Int](64)
    val tmp = new Array[Double](64)
    var by = 0
    while (by < blocksH) {
      var bx = 0
      while (bx < blocksW) {
        val base = (by * blocksW + bx) * 64
        var k = 0
        while (k < 64) { // DQT rides in zigzag order (T.81 B.2.4.1)
          dq(Zigzag(k)) = coef(base + Zigzag(k)) * q(k)
          k += 1
        }
        idctToPlane(dq, tmp, luma, lumaW, bx * 8, by * 8)
        bx += 1
      }
      by += 1
    }
    val px = new Array[Int](w * h)
    var y = 0
    while (y < h) {
      System.arraycopy(luma, y * lumaW, px, y * w, w)
      y += 1
    }
    Some(Gray(w, h, px))
  }

  /** Decode one scan that includes the luma component. Returns the
    * position just past the scan's entropy data, or -1 on corruption. */
  private def decodeScan(b: Array[Byte], from: Int, comps: Vector[Comp],
      scanComps: Array[Int], dcSel: Array[Int], acSel: Array[Int],
      dcT: Array[Huff], acT: Array[Huff], ss: Int, se: Int, ah: Int,
      al: Int, ri: Int, mcusX: Int, mcusY: Int, blocksW: Int,
      lumaBW: Int, lumaBH: Int, coef: Array[Int]): Int = {
    val r = new BitReader(b, from)
    val ns = scanComps.length
    val pred = new Array[Int](ns)
    var eobrun = 0
    var rstCount = 0

    // required tables up front (refinement DC scans need none)
    if (ss == 0 && ah == 0) {
      var i = 0
      while (i < ns) {
        if (dcT(dcSel(i)) == null) return -1
        i += 1
      }
    }
    if (ss > 0 && ah == 0 && acT(acSel(0)) == null) return -1
    // AC refinement still reads run/size symbols — table required
    if (ss > 0 && ah > 0 && acT(acSel(0)) == null) return -1

    /** DC pass for one block; store only when `base` ≥ 0 (luma). */
    def dcBlock(i: Int, base: Int): Boolean = {
      if (ah == 0) {
        val t = decodeHuffSym(r, dcT(dcSel(i)))
        if (t < 0 || t > 15) return false
        pred(i) += extend(r.receive(t), t)
        if (base >= 0) coef(base) = pred(i) << al
      } else {
        // G.1.2.3: one bit of added DC precision; bitwise OR is exact
        // for negative values too (the bit is clear by construction)
        val bit = r.nextBit()
        if (base >= 0 && bit == 1) coef(base) |= 1 << al
      }
      !r.truncated
    }

    /** AC first pass (Ah = 0) for one luma block at `base`. */
    def acFirstBlock(base: Int): Boolean = {
      if (eobrun > 0) { eobrun -= 1; return true }
      val ahuff = acT(acSel(0))
      var k = ss
      var done = false
      while (k <= se && !done) {
        val rs = decodeHuffSym(r, ahuff)
        if (rs < 0) return false
        val run = rs >> 4; val size = rs & 15
        if (size == 0) {
          if (run == 15) k += 16
          else {
            eobrun = (1 << run) - 1 +
              (if (run > 0) r.receive(run) else 0)
            done = true
          }
        } else {
          k += run
          if (k > se) return false
          coef(base + Zigzag(k)) = extend(r.receive(size), size) << al
          k += 1
        }
      }
      !r.truncated
    }

    /** AC refinement pass (Ah = Al + 1) for one luma block at `base` —
      * the correction-bit walk of G.1.2.3: history-nonzero
      * coefficients read one bit each in positional order; the run
      * field counts only zero-history positions. */
    def acRefineBlock(base: Int): Boolean = {
      val p1 = 1 << al
      val m1 = -(1 << al)
      val ahuff = acT(acSel(0))
      var k = ss
      def correct(idx: Int): Unit =
        if (r.nextBit() == 1 && (coef(idx) & p1) == 0)
          coef(idx) += (if (coef(idx) >= 0) p1 else m1)
      if (eobrun == 0) {
        var done = false
        while (k <= se && !done) {
          val rs = decodeHuffSym(r, ahuff)
          if (rs < 0) return false
          var run = rs >> 4; val size = rs & 15
          var newval = 0
          if (size == 0) {
            if (run != 15) {
              // EOBn: run INCLUDES this block; decremented at the end
              eobrun = (1 << run) + (if (run > 0) r.receive(run) else 0)
              done = true
            } // run == 15 (ZRL): skip 16 zero-history positions
          } else {
            if (size != 1) return false // refinement codes only ±1
            newval = if (r.nextBit() == 1) p1 else m1
          }
          if (!done) {
            var landed = false
            while (k <= se && !landed) {
              val idx = base + Zigzag(k)
              if (coef(idx) != 0) correct(idx)
              else if (run == 0) landed = true
              else run -= 1
              if (!landed) k += 1
            }
            if (newval != 0) {
              if (k > se) return false
              coef(base + Zigzag(k)) = newval
            }
            k += 1
          }
          if (r.truncated) return false
        }
      }
      if (eobrun > 0) {
        while (k <= se) {
          val idx = base + Zigzag(k)
          if (coef(idx) != 0) correct(idx)
          k += 1
        }
        eobrun -= 1
      }
      !r.truncated
    }

    def restart(mcu: Int): Boolean = {
      if (ri > 0 && mcu > 0 && mcu % ri == 0) {
        if (!r.consumeRst(rstCount & 7)) return false
        rstCount += 1
        java.util.Arrays.fill(pred, 0)
        eobrun = 0
      }
      true
    }

    if (ns > 1) {
      // interleaved DC scan over the MCU grid
      var mcu = 0
      val nMcus = mcusX * mcusY
      while (mcu < nMcus) {
        if (!restart(mcu)) return -1
        val mcuX = mcu % mcusX
        val mcuY = mcu / mcusX
        var i = 0
        while (i < ns) {
          val ci = scanComps(i)
          val c = comps(ci)
          var by = 0
          while (by < c.v) {
            var bx = 0
            while (bx < c.h) {
              val base =
                if (ci == 0)
                  (((mcuY * c.v + by) * blocksW) + mcuX * c.h + bx) * 64
                else -1
              if (!dcBlock(i, base)) return -1
              bx += 1
            }
            by += 1
          }
          i += 1
        }
        mcu += 1
      }
    } else {
      // single-component scan (luma — chroma-only scans are skipped
      // upstream): blocks in raster order over the TRUE block dims,
      // MCU = one block (T.81 G.1: non-interleaved data units)
      var blk = 0
      val nBlks = lumaBW * lumaBH
      while (blk < nBlks) {
        if (!restart(blk)) return -1
        val base = ((blk / lumaBW) * blocksW + blk % lumaBW) * 64
        val ok =
          if (ss == 0) dcBlock(0, base)
          else if (ah == 0) acFirstBlock(base)
          else acRefineBlock(base)
        if (!ok) return -1
        blk += 1
      }
    }
    if (r.truncated) -1 else r.pos
  }

  // ---- progressive encoder (fixture planting + spec round-trips) ----

  /** AC Huffman table for progressive scans: the Annex K sequential
    * table lacks the EOBn symbols (only 0x00/0xF0 carry size 0), so
    * progressive streams ship their own DHT. All (run, size ≤ 10)
    * symbols — covering EOBn n ≤ 14 and ZRL — as a flat canonical
    * table of 8-bit codes (176 < 255 codes, valid by construction). */
  private val ProgAcCounts: Array[Int] =
    Array(0, 0, 0, 0, 0, 0, 0, 176, 0, 0, 0, 0, 0, 0, 0, 0)
  private val ProgAcSymbols: Array[Int] =
    (for (rr <- 0 to 15; s <- 0 to 10) yield (rr << 4) | s).toArray
  private lazy val EncProgAc = encTable(ProgAcCounts, ProgAcSymbols)

  /** Encode luma as a progressive JPEG with the UNIT quantization
    * table, exercising every decode path: an interleaved (color) or
    * single-component DC first scan at Al = 1, spectral-selection AC
    * first scans (bands 1..`bandSplit` and `bandSplit`+1..63) at
    * Al = 1, chroma full-band scans (zero blocks → pure EOB runs), a
    * DC refinement scan, and AC refinement scans per band at Al = 0.
    * Block-constant content round-trips bit-exactly (DC-only blocks —
    * see [[JpegCodec]]); general content decodes with ordinary loss.
    * All components are 1×1 sampled; `color = true` adds two
    * constant-128 chroma components (level-shifted zero blocks). */
  def encodeProgressive(g: Gray, color: Boolean = false,
      bandSplit: Int = 5): Array[Byte] = {
    require(bandSplit >= 1 && bandSplit < 63)
    val out = new java.io.ByteArrayOutputStream()
    def marker(m: Int): Unit = { out.write(0xff); out.write(m) }
    def seg(m: Int, payload: Array[Int]): Unit = {
      marker(m)
      out.write(be16b(payload.length + 2))
      payload.foreach(out.write)
    }
    marker(0xd8) // SOI
    seg(0xdb, Array(0x00) ++ Array.fill(64)(1)) // DQT 0: unit table
    seg(0xc4, Array(0x00) ++ StdDcCounts ++ StdDcSymbols) // DHT DC 0
    seg(0xc4, Array(0x10) ++ ProgAcCounts ++ ProgAcSymbols) // DHT AC 0
    val nComp = if (color) 3 else 1
    seg(0xc2, Array(8, g.height >> 8, g.height & 0xff,
      g.width >> 8, g.width & 0xff, nComp) ++
      (1 to nComp).flatMap(id => Seq(id, 0x11, 0)))

    // all luma blocks' zigzag coefficients, once (1×1 sampling: the
    // block grid is the ceil grid, raster order = scan order)
    val bw = (g.width + 7) / 8
    val bh = (g.height + 7) / 8
    val blk = new Array[Double](64)
    val zz: Array[Array[Int]] = Array.tabulate(bw * bh) { bi =>
      val bx = bi % bw; val by = bi / bw
      var i = 0
      while (i < 64) {
        val x = math.min(bx * 8 + i % 8, g.width - 1)
        val y = math.min(by * 8 + i / 8, g.height - 1)
        blk(i) = g.luma(y * g.width + x) - 128.0
        i += 1
      }
      fdctQuant(blk)
    }

    def sos(comps: Seq[Int], ss: Int, se: Int, ah: Int, al: Int)
        (body: BitWriter => Unit): Unit = {
      seg(0xda, Array(comps.length) ++
        comps.flatMap(id => Seq(id, 0x00)) ++
        Seq(ss, se, (ah << 4) | al))
      val bwrt = new BitWriter(out)
      body(bwrt)
      bwrt.flush()
    }

    // scan 1: DC first, Al = 1 (interleaved when color)
    sos(1 to nComp, 0, 0, 0, 1) { bwr =>
      val pred = new Array[Int](nComp)
      var bi = 0
      while (bi < zz.length) {
        var ci = 0
        while (ci < nComp) {
          val dc = if (ci == 0) zz(bi)(0) >> 1 else 0 // arithmetic shift
          val diff = dc - pred(ci)
          pred(ci) = dc
          val t = magnitude(diff)
          val (c, l) = EncDc(t)
          bwr.put(c, l)
          if (t > 0)
            bwr.put(if (diff < 0) diff + (1 << t) - 1 else diff, t)
          ci += 1
        }
        bi += 1
      }
    }

    /** AC first scan over a luma band at Al = 1 with EOB-run
      * batching: values are sign·(|coef| >> 1) — T.81's
      * truncate-toward-zero AC point transform. */
    def acFirstScan(ss: Int, se: Int): Unit =
      sos(Seq(1), ss, se, 0, 1) { bwr =>
        var eob = 0
        def flushEob(): Unit = if (eob > 0) {
          var n = 0
          while ((2 << n) <= eob) n += 1 // floor log2
          val (c, l) = EncProgAc(n << 4)
          bwr.put(c, l)
          if (n > 0) bwr.put(eob - (1 << n), n)
          eob = 0
        }
        var bi = 0
        while (bi < zz.length) {
          var ke = -1
          var k = ss
          while (k <= se) {
            if (zz(bi)(k) / 2 != 0) ke = k
            k += 1
          }
          if (ke < 0) {
            eob += 1
            if (eob == 32767) flushEob()
          } else {
            flushEob()
            var run = 0
            k = ss
            while (k <= ke) {
              val v = zz(bi)(k) / 2 // truncation toward zero
              if (v == 0) run += 1
              else {
                while (run > 15) {
                  val (zc, zl) = EncProgAc(0xf0); bwr.put(zc, zl)
                  run -= 16
                }
                val s = magnitude(v)
                val (c, l) = EncProgAc((run << 4) | s)
                bwr.put(c, l)
                bwr.put(if (v < 0) v + (1 << s) - 1 else v, s)
                run = 0
              }
              k += 1
            }
            if (ke < se) eob += 1
          }
          bi += 1
        }
        flushEob()
      }
    acFirstScan(1, bandSplit)
    acFirstScan(bandSplit + 1, 63)

    // chroma full-band AC scans: all-zero blocks → pure EOB runs —
    // the decoder skips these (luma-only), but the stream is complete
    if (color) for (id <- 2 to 3) sos(Seq(id), 1, 63, 0, 0) { bwr =>
      var left = zz.length
      while (left > 0) {
        val run = math.min(left, 32767)
        var n = 0
        while ((2 << n) <= run) n += 1
        val (c, l) = EncProgAc(n << 4)
        bwr.put(c, l)
        if (n > 0) bwr.put(run - (1 << n), n)
        left -= run
      }
    }

    // DC refinement: one bit per block per component (bit 0 of the
    // quantized DC — two's complement makes the OR reassembly exact)
    sos(1 to nComp, 0, 0, 1, 0) { bwr =>
      var bi = 0
      while (bi < zz.length) {
        var ci = 0
        while (ci < nComp) {
          bwr.put(if (ci == 0) zz(bi)(0) & 1 else 0, 1)
          ci += 1
        }
        bi += 1
      }
    }

    /** AC refinement scan over a luma band (Ah = 1, Al = 0): newly
      * nonzero coefficients (|coef| = 1) get run/1 symbols + sign;
      * history-nonzero ones (|coef| > 1) get correction bits emitted
      * in positional order after the covering symbol — the encoder
      * mirror of the decoder's G.1.2.3 walk. */
    def acRefineScan(ss: Int, se: Int): Unit =
      sos(Seq(1), ss, se, 1, 0) { bwr =>
        var eob = 0
        val pending = scala.collection.mutable.ArrayBuffer.empty[Int]
        def flushEob(): Unit = {
          if (eob > 0) {
            var n = 0
            while ((2 << n) <= eob) n += 1
            val (c, l) = EncProgAc(n << 4)
            bwr.put(c, l)
            if (n > 0) bwr.put(eob - (1 << n), n)
            eob = 0
          }
          pending.foreach(bwr.put(_, 1))
          pending.clear()
        }
        var bi = 0
        while (bi < zz.length) {
          var ke = -1
          var k = ss
          while (k <= se) {
            if (math.abs(zz(bi)(k)) == 1) ke = k
            k += 1
          }
          if (ke < 0) {
            // EOB-only block: whole-band corrections fold into the run
            k = ss
            while (k <= se) {
              if (math.abs(zz(bi)(k)) > 1) pending += (zz(bi)(k) & 1)
              k += 1
            }
            eob += 1
            if (eob == 32767) flushEob()
          } else {
            flushEob()
            var run = 0
            val bits = scala.collection.mutable.ArrayBuffer.empty[Int]
            k = ss
            while (k <= ke) {
              val v = zz(bi)(k)
              val a = math.abs(v)
              if (a > 1) bits += (v & 1)
              else if (a == 1) {
                val (c, l) = EncProgAc((run << 4) | 1)
                bwr.put(c, l)
                bwr.put(if (v > 0) 1 else 0, 1)
                bits.foreach(bwr.put(_, 1))
                bits.clear()
                run = 0
              } else {
                run += 1
                if (run == 16) {
                  // eager ZRL at the 16th zero-history position: the
                  // buffered bits are exactly its walk's corrections
                  val (zc, zl) = EncProgAc(0xf0)
                  bwr.put(zc, zl)
                  bits.foreach(bwr.put(_, 1))
                  bits.clear()
                  run = 0
                }
              }
              k += 1
            }
            if (ke < se) {
              k = ke + 1
              while (k <= se) {
                if (math.abs(zz(bi)(k)) > 1) pending += (zz(bi)(k) & 1)
                k += 1
              }
              eob += 1
            }
          }
          bi += 1
        }
        flushEob()
      }
    acRefineScan(1, bandSplit)
    acRefineScan(bandSplit + 1, 63)

    marker(0xd9) // EOI
    out.toByteArray
  }
}
