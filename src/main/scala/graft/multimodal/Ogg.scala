package graft.multimodal

/** Ogg/Vorbis header-only metadata: sample rate and channels from the
  * Vorbis identification header in the first (BOS) page's payload;
  * duration from the granule position of the final page, which for a
  * Vorbis stream counts total PCM samples (Ogg spec §4 / Vorbis-I §A.2).
  * Pure byte offsets over page headers — sample DECODE for Vorbis remains
  * a declared stub ([[Multimodal]] scaladoc); this closes the metadata
  * tier the same way [[Mp3]] did for MP3.
  *
  * Total: no "OggS" magic, no `\u0001vorbis` id packet, or no parsable
  * final granule → None (quarantine contract). CRCs are not verified —
  * metadata routing tolerates what a strict decoder would reject, and
  * the q88 fixture exercises exactly the documented fields.
  */
object Ogg {

  private def le32(b: Array[Byte], o: Int): Long =
    (b(o) & 0xffL) | ((b(o + 1) & 0xffL) << 8) |
      ((b(o + 2) & 0xffL) << 16) | ((b(o + 3) & 0xffL) << 24)

  private def le64(b: Array[Byte], o: Int): Long = {
    var v = 0L
    var i = 7
    while (i >= 0) { v = (v << 8) | (b(o + i) & 0xffL); i -= 1 }
    v
  }

  private def isPageAt(b: Array[Byte], o: Int): Boolean =
    o + 27 <= b.length && b(o) == 'O' && b(o + 1) == 'g' &&
      b(o + 2) == 'g' && b(o + 3) == 'S' && b(o + 4) == 0

  /** Byte length of the page at `o` (27-byte header + segment table +
    * payload), or -1 if malformed/truncated. */
  private def pageLen(b: Array[Byte], o: Int): Int = {
    val nSegs = b(o + 26) & 0xff
    if (o + 27 + nSegs > b.length) return -1
    var payload = 0
    var i = 0
    while (i < nSegs) { payload += b(o + 27 + i) & 0xff; i += 1 }
    val len = 27 + nSegs + payload
    if (o + len > b.length) -1 else len
  }

  def parse(b: Array[Byte]): Option[Mp3.AudioMeta] =
    try {
      if (!isPageAt(b, 0)) return None
      // Vorbis identification header = first packet of the BOS page:
      // 0x01 "vorbis" ver(4) channels(1) rate(4 LE) ...
      val seg0 = b(26) & 0xff
      val p = 27 + seg0
      if (p + 16 > b.length) return None
      if (b(p) != 1 || b(p + 1) != 'v' || b(p + 2) != 'o' || b(p + 3) != 'r' ||
        b(p + 4) != 'b' || b(p + 5) != 'i' || b(p + 6) != 's') return None
      val channels = b(p + 11) & 0xff
      val sr = le32(b, p + 12)
      if (sr <= 0 || channels <= 0) return None
      // walk the page chain to the final page; its granule position is
      // the total PCM sample count
      var off = 0
      var lastGranule = -1L
      while (isPageAt(b, off)) {
        lastGranule = le64(b, off + 6)
        val len = pageLen(b, off)
        if (len < 0) return None
        off += len
      }
      if (lastGranule <= 0) None
      else Some(Mp3.AudioMeta(sr.toInt, channels, lastGranule * 1000L / sr))
    } catch { case _: Exception => None }
}
