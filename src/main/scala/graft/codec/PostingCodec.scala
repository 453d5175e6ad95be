package graft.codec

/** A decoded block of postings for one term: parallel arrays sorted by docId.
  * `positions` is the concatenation of per-doc position lists, tf(i) of
  * them for doc i (tf == occurrence count, mirroring the rid,tf,pos…
  * element layout of
  * /root/reference/lib/grn_ii.h:45-46).
  */
final case class DecodedBlock(
    docIds: Array[Long],
    tfs: Array[Int],
    dls: Array[Int],
    positions: Array[Int], // empty when the block was encoded without positions
    /** section id per posting (1-based); empty when the index has no
      * sections. With sections a "posting" is one (doc, sid) pair and
      * docIds may repeat for consecutive sids of the same doc — the
      * element layout of groonga's WITH_SECTION postings
      * (rid, sid, tf, pos..., /root/reference/lib/grn_ii.h:45-46). */
    sids: Array[Int] = Array.emptyIntArray
) {
  def count: Int = docIds.length
}

/** Posting-block codec: delta + varbyte, with a bit-packed docId-delta path
  * for dense blocks (count >= DenseThreshold), mirroring the reference's
  * per-stream varbyte-vs-PFor choice heuristics
  * (/root/reference/lib/ii.cpp:1003-1019).
  *
  * Layout: [flags u8] [count varint] [firstDoc varint]
  *   docId deltas-1? no: raw gaps (first gap from firstDoc is 0):
  *     bitpacked (width u8 + frames) | varbyte
  *   tf-1 varbyte xcount, dl varbyte xcount,
  *   positions (if flag): per doc, tf position-deltas varbyte.
  */
object PostingCodec {
  final val FlagPackedDocs = 1
  final val FlagPositions = 2
  /** postings carry a section-id stream; docId gaps may be 0 (same doc,
    * next section) — groonga packs (rid_gap << sid_bits)|(sid-1)
    * (/root/reference/lib/ii.cpp:16859); we keep sid as its own varint
    * stream so the docId stream stays bit-packable */
  final val FlagSections = 4
  final val DenseThreshold = 16

  /** encode a block whose positions stream is one pre-concatenated blob of
    * per-doc varbyte deltas (map-side RunBuf output); appended verbatim. */
  def encodeWithPosBlob(
      docIds: Array[Long], tfs: Array[Int], dls: Array[Int],
      posBlob: Array[Byte], // null => no positions
      sids: Array[Int] = null // null => no sections
  ): Array[Byte] = {
    val n = docIds.length
    require(n > 0)
    val w = new ByteWriter(n * 4 + 16 + (if (posBlob == null) 0 else posBlob.length))
    writeHeaderAndStreams(w, docIds, tfs, dls, withPos = posBlob != null, sids = sids)
    if (posBlob != null) w.writeRaw(posBlob, 0, posBlob.length)
    w.result()
  }

  private def writeHeaderAndStreams(
      w: ByteWriter, docIds: Array[Long], tfs: Array[Int], dls: Array[Int],
      withPos: Boolean, sids: Array[Int] = null): Unit = {
    val n = docIds.length
    val withSids = sids != null
    if (withSids) require(sids.length == n, "sids length != postings")
    val deltas = new Array[Long](n)
    var i = 1
    var maxDelta = 0L
    while (i < n) {
      val d = docIds(i) - docIds(i - 1)
      if (withSids)
        require(d > 0 || (d == 0 && sids(i) > sids(i - 1)),
          s"postings must ascend by (doc, sid): ${docIds(i - 1)} -> ${docIds(i)}")
      else
        require(d > 0, s"docIds must be strictly ascending: ${docIds(i - 1)} -> ${docIds(i)}")
      deltas(i) = d
      if (d > maxDelta) maxDelta = d
      i += 1
    }
    val packed = n >= DenseThreshold
    var flags = 0
    if (packed) flags |= FlagPackedDocs
    if (withPos) flags |= FlagPositions
    if (withSids) flags |= FlagSections
    w.writeByte(flags)
    w.writeVarInt(n)
    w.writeVarLong(docIds(0))
    if (packed) {
      val bits = BitPack.bitsNeeded(maxDelta)
      w.writeByte(bits)
      BitPack.pack(deltas, 1, n - 1, bits, w)
    } else {
      i = 1
      while (i < n) { w.writeVarLong(deltas(i)); i += 1 }
    }
    if (withSids) {
      i = 0
      while (i < n) { w.writeVarInt(sids(i) - 1); i += 1 }
    }
    i = 0
    while (i < n) { w.writeVarInt(tfs(i) - 1); i += 1 }
    i = 0
    while (i < n) { w.writeVarInt(dls(i)); i += 1 }
  }

  def encode(
      docIds: Array[Long], tfs: Array[Int], dls: Array[Int],
      positions: Array[Array[Int]], // null => no positions
      sids: Array[Int] = null // null => no sections
  ): Array[Byte] = {
    val n = docIds.length
    require(n > 0)
    if (positions != null) {
      var i = 0
      while (i < n) {
        require(positions(i).length == tfs(i),
          s"positions length ${positions(i).length} != tf ${tfs(i)}")
        i += 1
      }
    }
    val w = new ByteWriter(n * 4 + 16)
    writeHeaderAndStreams(w, docIds, tfs, dls, withPos = positions != null, sids = sids)
    if (positions != null) {
      var i = 0
      while (i < n) {
        val ps = positions(i)
        var prev = 0
        var j = 0
        while (j < ps.length) {
          w.writeVarInt(ps(j) - prev); prev = ps(j); j += 1
        }
        i += 1
      }
    }
    w.result()
  }

  def decode(bytes: Array[Byte]): DecodedBlock = {
    val r = new ByteReader(bytes)
    val flags = r.readByte()
    val n = r.readVarInt()
    val docIds = new Array[Long](n)
    docIds(0) = r.readVarLong()
    if ((flags & FlagPackedDocs) != 0) {
      val bits = r.readByte()
      val deltas = new Array[Long](n)
      BitPack.unpack(r, n - 1, bits, deltas, 1)
      var i = 1
      while (i < n) { docIds(i) = docIds(i - 1) + deltas(i); i += 1 }
    } else {
      var i = 1
      while (i < n) { docIds(i) = docIds(i - 1) + r.readVarLong(); i += 1 }
    }
    val sids =
      if ((flags & FlagSections) != 0) {
        val out = new Array[Int](n)
        var j = 0
        while (j < n) { out(j) = r.readVarInt() + 1; j += 1 }
        out
      } else Array.emptyIntArray
    val tfs = new Array[Int](n)
    var i = 0
    var totalTf = 0
    while (i < n) { tfs(i) = r.readVarInt() + 1; totalTf += tfs(i); i += 1 }
    val dls = new Array[Int](n)
    i = 0
    while (i < n) { dls(i) = r.readVarInt(); i += 1 }
    val positions =
      if ((flags & FlagPositions) != 0) {
        val out = new Array[Int](totalTf)
        var o = 0
        i = 0
        while (i < n) {
          var prev = 0
          var j = 0
          while (j < tfs(i)) { prev += r.readVarInt(); out(o) = prev; o += 1; j += 1 }
          i += 1
        }
        out
      } else Array.emptyIntArray
    DecodedBlock(docIds, tfs, dls, positions, sids)
  }
}
