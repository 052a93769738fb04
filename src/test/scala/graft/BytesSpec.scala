package graft

import graft.multimodal.Bytes
import org.scalatest.funsuite.AnyFunSuite

class BytesSpec extends AnyFunSuite {
  private val check = "123456789".getBytes("US-ASCII")

  test("CRC check values of \"123456789\"") {
    assert(Bytes.Crc8(check, 0, check.length) === 0xF4)
    assert(Bytes.Crc16(check, 0, check.length) === 0xFEE8)
    // Ogg (init 0) and CRC-32/MPEG-2 (init all-ones) share the table
    assert(Bytes.Crc32(check, 0, check.length) === 0x89A1897F)
    assert(Bytes.Crc32(check, 0, check.length, init = -1) === 0x0376E6E7)
    // a CRC over a split range continues from its init
    val head = Bytes.Crc32(check, 0, 4, init = -1)
    assert(Bytes.Crc32(check, 4, check.length, init = head) === 0x0376E6E7)
  }

  test("32-bit reads come back unsigned; writes round-trip") {
    for (v <- Seq(0L, 1L, 0x7fffffffL, 0x80000000L, 0xdeadbeefL, 0xffffffffL)) {
      val be = Bytes.be32(Bytes.be32b(v.toInt), 0)
      val le = Bytes.le32(Bytes.le32b(v.toInt), 0)
      assert(be === v && le === v, f"$v%x")
      assert(be >= 0 && le >= 0)
    }
    assert(Bytes.be32b(0x01020304).toSeq === Seq[Byte](1, 2, 3, 4))
    assert(Bytes.le32b(0x01020304).toSeq === Seq[Byte](4, 3, 2, 1))
    for (v <- Seq(0, 0x1234, 0xffff)) {
      assert(Bytes.be16(Bytes.be16b(v), 0) === v)
      assert(Bytes.le16(Bytes.le16b(v), 0) === v)
    }
    assert(Bytes.le24(Bytes.le24b(0xabcdef), 0) === 0xabcdef)
    assert(Bytes.be24(Array[Byte](0xab.toByte, 0xcd.toByte, 0xef.toByte), 0)
      === 0xabcdef)
    assert(Bytes.be64(Bytes.be64b(0x8123456789abcdefL), 0) === 0x8123456789abcdefL)
    assert(Bytes.fourcc("xxRIFF".getBytes("US-ASCII"), 2) === "RIFF")
  }

  test("bit writers round-trip through their readers at widths 1-24") {
    val rnd = new scala.util.Random(7)
    val fields = Seq.fill(500) {
      val w = 1 + rnd.nextInt(24)
      (rnd.nextInt(1 << w), w)
    } ++ (1 to 24).map(w => ((1 << w) - 1, w))
    val msb = new Bytes.MsbBitWriter
    val lsb = new Bytes.LsbBitWriter
    fields.foreach { case (v, w) => msb.bits(v.toLong, w); lsb.bits(v, w) }
    val mb = msb.result()
    val lb = lsb.result()
    val totalBits = fields.map(_._2).sum
    assert(mb.length === (totalBits + 7) / 8 && lb.length === mb.length)
    val mr = new Bytes.MsbBitReader(mb, 0, mb.length)
    val lr = new Bytes.LsbBitReader(lb, 0, lb.length)
    fields.foreach { case (v, w) =>
      assert(mr.bits(w) === v, s"msb width $w")
      assert(lr.bits(w) === v, s"lsb width $w")
    }
    // bit order within a byte: MSB-first fills from the top bit
    val one = new Bytes.MsbBitWriter
    one.bits(1, 1)
    assert(one.result().toSeq === Seq(0x80.toByte))
    val lone = new Bytes.LsbBitWriter
    lone.bits(1, 1)
    assert(lone.result().toSeq === Seq(0x01.toByte))
    // signed and unary reads (FLAC residuals)
    val sw = new Bytes.MsbBitWriter
    sw.signed(-3, 5); sw.bits(1, 4)            // 0001: three zeros, a one
    val sr = new Bytes.MsbBitReader(sw.result(), 0, 2)
    assert(sr.signed(5) === -3 && sr.unary() === 3)
  }

  test("reads past the end raise") {
    val b = Array[Byte](1, 2, 3)
    intercept[IndexOutOfBoundsException](Bytes.be32(b, 0))
    intercept[IndexOutOfBoundsException](Bytes.u8(b, 3))
    // the readers stop at `until`, not at the array's end
    val m = new Bytes.MsbBitReader(b, 0, 1)
    m.bits(8)
    intercept[IndexOutOfBoundsException](m.bit())
    val l = new Bytes.LsbBitReader(b, 1, 2)
    l.bits(5)
    intercept[IndexOutOfBoundsException](l.bits(4))
  }

  test("boxAt: 32- and 64-bit sizes; size 0 and overruns reject") {
    val small = Bytes.be32b(12) ++ "free".getBytes("US-ASCII") ++ Array[Byte](1, 2, 3, 4)
    assert(Bytes.boxAt(small, 0, small.length) === Some((8, 12)))
    assert(Bytes.boxAt(small, 0, 11) === None)
    val large = Bytes.be32b(1) ++ "mdat".getBytes("US-ASCII") ++
      Bytes.be64b(20) ++ Array[Byte](9, 9, 9, 9)
    assert(Bytes.boxAt(large, 0, large.length) === Some((16, 20)))
    val toEnd = Bytes.be32b(0) ++ "mdat".getBytes("US-ASCII")
    assert(Bytes.boxAt(toEnd, 0, toEnd.length) === None)
  }

  test("riffChunks: even padding, early stop, and overruns") {
    val two = Bytes.riffChunk("abcd", Array[Byte](1, 2, 3)) ++
      Bytes.riffChunk("efgh", Array[Byte](4))
    assert(two.length === 8 + 4 + 8 + 2)
    val seen = Seq.newBuilder[(String, Int, Int)]
    assert(Bytes.riffChunks(two, 0, two.length) { (id, s, e) =>
      seen += ((id, s, e)); true })
    assert(seen.result() === Seq(("abcd", 8, 11), ("efgh", 20, 21)))
    var n = 0
    assert(Bytes.riffChunks(two, 0, two.length) { (_, _, _) => n += 1; false })
    assert(n === 1)
    assert(!Bytes.riffChunks(two, 0, two.length - 2)((_, _, _) => true))
    val be = "COMM".getBytes("US-ASCII") ++ Bytes.be32b(2) ++ Array[Byte](7, 7)
    assert(Bytes.riffChunks(be, 0, be.length, size = Bytes.be32) { (id, s, e) =>
      id == "COMM" && s == 8 && e == 10 })
  }

  test("endian, bit-I/O and CRC primitives live only in Bytes.scala") {
    // one shared module: a private copy would drift from it
    val guards = Seq(
      """\bdef\s+(u8|be16|be24|be32|be64|le16|le24|le32|be16b|be32b|be64b|le16b|le24b|le32b|fourcc)\b""".r,
      """(?i)\bcrc\w*table\b""".r,                    // a named CRC table
      """(<<|>>>?)\s*1\)?\s*\^\s*(0x\p{XDigit}+|poly)""".r) // its feedback step
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root), s"missing $root")
    val offenders = java.nio.file.Files.walk(root).toArray.toSeq
      .map(_.asInstanceOf[java.nio.file.Path])
      .filter(p => p.toString.endsWith(".scala") &&
        p.getFileName.toString != "Bytes.scala")
      .filter { p =>
        val src = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
        guards.exists(_.findFirstIn(src).isDefined)
      }
    assert(offenders.isEmpty, s"byte primitives outside Bytes.scala in $offenders")
  }
}
