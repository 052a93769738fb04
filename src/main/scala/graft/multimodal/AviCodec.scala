package graft.multimodal

/** AVI (RIFF) Motion-JPEG video decode for the frame tier — the
  * second true-video container next to [[Mp4Codec]]: where MP4 lays
  * samples out via the `stbl` tables, AVI interleaves them as `NNdc`
  * chunks inside the `movi` list (optionally grouped into `rec ` lists
  * for interleaved playback — the layout Video-for-Windows writers
  * emit). This walks `hdrl` to locate the first `vids` stream, requires
  * an MJPG/JPEG coding (stream-header handler or the `strf`
  * BITMAPINFOHEADER's biCompression), then collects that stream's data
  * chunks in file order and JPEG-decodes every frame through the REAL
  * [[JpegCodec]]/[[JpegProgressive]] tier — so an AVI clip feeds the
  * existing frame pipeline (sampling, re-edit pairing, streamed
  * admission) through the same payload→frames seam as GIF and MP4.
  *
  * Exactness: intra-only MJPEG + block-constant scene frames ⇒ every
  * frame decodes bit-exactly (the [[JpegCodec]] DC-only property), so
  * AVI clips join the md5-arithmetic frame-evolution oracles next to
  * their GIF/MP4 twins.
  *
  * Hostile-input discipline matches the codec tier: decode never
  * throws — truncated lists, chunk sizes past the buffer, a missing or
  * non-MJPEG video stream, too many frames, or any undecodable frame
  * return None (the clip drops whole at the gate).
  *
  * Reference provenance: the reference pipeline treats media blobs as
  * opaque payloads (backfill_user_profiles.py:144-153); the container
  * walk itself is the public AVI RIFF layout (msdn AVIMAINHEADER /
  * AVISTREAMHEADER, OpenDML v1.02).
  */
object AviCodec {
  import PixelCodec.Gray

  import Bytes.{fourcc, le16b, le32, le32b, riffChunk, riffChunks}

  private val MaxFrames = 256

  /** First LIST of the given list type in [from, until):
    * Some(payload after the type fourcc, payload end). */
  private def findList(b: Array[Byte], from: Int, until: Int,
      listType: String): Option[(Int, Int)] = {
    var found: Option[(Int, Int)] = None
    riffChunks(b, from, until) { (id, s, e) =>
      if (id == "LIST" && e - s >= 4 && found.isEmpty &&
          fourcc(b, s) == listType) { found = Some((s + 4, e)); false }
      else found.isEmpty
    }
    found
  }

  /** Index (0-based, in strl order) of the first `vids` stream whose
    * coding is Motion-JPEG — handler MJPG/mjpg/jpeg in `strh`, or
    * biCompression MJPG in the `strf` BITMAPINFOHEADER. None when no
    * such stream exists (not an MJPEG AVI). */
  private def mjpegStreamIndex(b: Array[Byte], hdrlS: Int,
      hdrlE: Int): Option[Int] = {
    var idx = -1
    var found: Option[Int] = None
    riffChunks(b, hdrlS, hdrlE) { (id, s, e) =>
      if (id == "LIST" && e - s >= 4 && fourcc(b, s) == "strl") {
        idx += 1
        if (found.isEmpty) {
          var isVids = false; var isMjpeg = false
          riffChunks(b, s + 4, e) { (cid, cs, ce) =>
            if (cid == "strh" && ce - cs >= 8) {
              isVids = fourcc(b, cs) == "vids"
              val h = fourcc(b, cs + 4)
              if (h == "MJPG" || h == "mjpg" || h == "jpeg")
                isMjpeg = true
            } else if (cid == "strf" && ce - cs >= 20) {
              // BITMAPINFOHEADER: biCompression fourcc at +16
              if (fourcc(b, cs + 16) == "MJPG") isMjpeg = true
            }
            true
          }
          if (isVids && isMjpeg) found = Some(idx)
        }
      }
      true
    }
    found
  }

  /** Decode an MJPEG AVI to its frames: locate the MJPEG `vids`
    * stream, then collect its `NNdc`/`NNdb` chunks from `movi` in file
    * order — descending into `rec ` grouping lists — and JPEG-decode
    * every payload. None if the container is malformed, no MJPEG video
    * stream exists, the clip exceeds [[MaxFrames]], or any frame fails
    * to decode. */
  def decodeMjpegFrames(b: Array[Byte]): Option[Vector[Gray]] =
    try decode0(b)
    catch { case _: RuntimeException => None }

  private def decode0(b: Array[Byte]): Option[Vector[Gray]] = {
    if (b.length < 12 || fourcc(b, 0) != "RIFF" ||
        fourcc(b, 8) != "AVI ") return None
    val riffEnd = math.min(b.length.toLong, 8 + le32(b, 4)).toInt
    val (hdrlS, hdrlE) = findList(b, 12, riffEnd, "hdrl")
      .getOrElse(return None)
    val stream = mjpegStreamIndex(b, hdrlS, hdrlE).getOrElse(return None)
    if (stream > 99) return None
    val dataId = f"$stream%02ddc"
    val dataIdU = f"$stream%02ddb"   // uncompressed id some writers use
    val (moviS, moviE) = findList(b, 12, riffEnd, "movi")
      .getOrElse(return None)

    val frames = Vector.newBuilder[Gray]
    var n = 0
    var bad = false
    def collect(from: Int, until: Int): Boolean =
      riffChunks(b, from, until) { (id, s, e) =>
        if (id == "LIST" && e - s >= 4 && fourcc(b, s) == "rec ") {
          if (!collect(s + 4, e)) bad = true
        } else if (id == dataId || id == dataIdU) {
          n += 1
          if (n > MaxFrames) bad = true
          else JpegCodec.decodeJpeg(
              java.util.Arrays.copyOfRange(b, s, e)) match {
            case Some(g) => frames += g
            case None    => bad = true
          }
        }
        !bad
      }
    if (!collect(moviS, moviE) || bad || n == 0) return None
    Some(frames.result())
  }

  // ---- encoder (fixture planting + spec round-trips) ----

  private def cc(s: String): Array[Byte] = s.getBytes("US-ASCII")
  private def list(listType: String, payload: Array[Byte]): Array[Byte] =
    riffChunk("LIST", cc(listType) ++ payload)

  /** Encode frames as an MJPEG AVI: `hdrl` (avih + one vids/MJPG
    * strl) + `movi` of per-frame baseline JPEGs + an `idx1` index.
    * `recGroup` > 0 wraps every `recGroup` frames in a `rec ` grouping
    * list (the interleaved-writer layout), so the decoder's recursive
    * movi walk is exercised by fixtures, not just the flat one.
    * `color` encodes each frame as a 3-component JPEG. */
  def encodeMjpegAvi(frames: Seq[Gray], color: Boolean = false,
      recGroup: Int = 0): Array[Byte] = {
    require(frames.nonEmpty && frames.length <= MaxFrames)
    val samples = frames.map(g => JpegCodec.encodeJpeg(g, color = color))
    val w = frames.head.width; val h = frames.head.height
    val n = samples.length
    val maxSz = samples.map(_.length).max

    val strh = riffChunk("strh",
      cc("vids") ++ cc("MJPG") ++ le32b(0) ++
      le16b(0) ++ le16b(0) ++ le32b(0) ++      // priority/language/initial
      le32b(1) ++ le32b(15) ++                 // scale / rate: 15 fps
      le32b(0) ++ le32b(n) ++                  // start / length
      le32b(maxSz) ++ le32b(-1) ++ le32b(0) ++ // bufsize / quality / sampsize
      le16b(0) ++ le16b(0) ++ le16b(w) ++ le16b(h))   // rcFrame
    val strf = riffChunk("strf",
      le32b(40) ++ le32b(w) ++ le32b(h) ++
      le16b(1) ++ le16b(24) ++ cc("MJPG") ++
      le32b(w * h * 3) ++ le32b(0) ++ le32b(0) ++ le32b(0) ++ le32b(0))
    val strl = list("strl", strh ++ strf)
    val avih = riffChunk("avih",
      le32b(66666) ++ le32b(maxSz * 15) ++ le32b(0) ++
      le32b(0x10) ++                           // AVIF_HASINDEX
      le32b(n) ++ le32b(0) ++ le32b(1) ++ le32b(maxSz) ++
      le32b(w) ++ le32b(h) ++
      le32b(0) ++ le32b(0) ++ le32b(0) ++ le32b(0))
    val hdrl = list("hdrl", avih ++ strl)

    val dataChunks = samples.map(s => riffChunk("00dc", s))
    val moviPayload =
      if (recGroup <= 0) dataChunks.toArray.flatten
      else dataChunks.grouped(recGroup)
        .map(g => list("rec ", g.toArray.flatten)).toArray.flatten
    val movi = list("movi", moviPayload)

    // idx1 offsets are relative to the 'movi' type fourcc; walk the
    // encoded movi payload to recover each chunk's position
    val idxEntries = Array.newBuilder[Byte]
    def indexChunks(from: Int, until: Int): Boolean =
      riffChunks(moviPayload, from, until) { (id, s, e) =>
        if (id == "LIST") indexChunks(s + 4, e)
        else if (id == "00dc")
          idxEntries ++= cc("00dc") ++ le32b(0x10) ++
            le32b(s - 4) ++ le32b(e - s)       // offset from 'movi' cc
        true
      }
    indexChunks(0, moviPayload.length)
    val idx1 = riffChunk("idx1", idxEntries.result())

    riffChunk("RIFF", cc("AVI ") ++ hdrl ++ movi ++ idx1)
  }
}
