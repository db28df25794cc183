package graft.codec

import java.io.ByteArrayOutputStream

/** Column-chunk encoding: one self-describing block per (column,
  * partition-block), with codec auto-selection.
  *
  * The selector mirrors the reference's data-dependent decisions — FL's
  * per-frame width search (/root/reference/src/fl/fl_cpu.cu:36-50) and
  * RL's run detection (/root/reference/IMPLEMENTATION-PLAN.md:93-123) —
  * lifted to whole-codec choice: exact candidate sizes are computed in a
  * stats pass and the smallest encoding wins. The FL-bitpack-on-plain
  * candidate is always in the set, which makes the north-rule bound
  * "compressed size <= the reference's FL output on the same bytes"
  * structural rather than empirical: our block <= FlBytes block <=
  * reference FL file (24-byte header vs our varint header).
  *
  * Block layout:
  *   [version byte][varint n][varint nullCount][null bitmap if nullCount>0]
  *   [form byte][form-specific body]
  */
object ColumnCodec {
  val Version = 1

  // form ids
  val FormLong: Int = 0        // [longCodecId][inner]
  val FormBytesDict: Int = 1   // [varint dictSize][(varint len, bytes)*][longCodecId][codes]
  val FormBytesComposite: Int = 2 // [longCodecId][lengths][byteCodecId][payload]
  val FormBytesFlPlain: Int = 3   // [FlBytes block over (lengths LE || payload)]
  val FormLongFlPlain: Int = 4    // [FlBytes block over LE longs]

  val DictMaxCardinality = 1 << 16

  final case class Encoded(codecName: String, bytes: Array[Byte], rawBytes: Long, flBaselineBytes: Long)

  // ------------------------------------------------------------ helpers

  private def writeHeader(out: ByteArrayOutputStream, n: Int, nulls: Array[Boolean]): Int = {
    out.write(Version)
    Varint.writeUnsigned(out, n.toLong)
    val nullCount = if (nulls == null) 0 else nulls.count(identity)
    Varint.writeUnsigned(out, nullCount.toLong)
    if (nullCount > 0) {
      val bitmap = new Array[Byte]((n + 7) / 8)
      var i = 0
      while (i < n) {
        if (nulls(i)) bitmap(i >>> 3) = (bitmap(i >>> 3) | (1 << (i & 7))).toByte
        i += 1
      }
      out.write(bitmap, 0, bitmap.length)
    }
    nullCount
  }

  private final case class Header(n: Int, nulls: Array[Boolean], cur: ByteCursor)

  private def readHeader(block: Array[Byte]): Header = {
    val cur = new ByteCursor(block)
    val v = cur.readByte()
    require(v == Version, s"bad column block version $v")
    val n = cur.readUnsignedVarint().toInt
    val nullCount = cur.readUnsignedVarint().toInt
    val nulls =
      if (nullCount == 0) null
      else {
        val bitmap = cur.readBytes((n + 7) / 8)
        Array.tabulate(n)(i => (bitmap(i >>> 3) & (1 << (i & 7))) != 0)
      }
    Header(n, nulls, cur)
  }

  private def longsToLeBytes(values: Array[Long]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(values.length * 8).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    values.foreach(bb.putLong)
    bb.array()
  }

  /** Dict-map key with the hash computed exactly once per row (a
    * ByteBuffer key re-hashes the full payload on every put *and* get). */
  private final class BytesKey(val bytes: Array[Byte]) {
    override val hashCode: Int = java.util.Arrays.hashCode(bytes)
    override def equals(o: Any): Boolean = o match {
      case k: BytesKey => java.util.Arrays.equals(bytes, k.bytes)
      case _           => false
    }
  }

  /** Cheap strided cardinality probe over the WHOLE column: ~1k rows at a
    * fixed stride, keyed by a (length, first/last 16 bytes) hash. Returns
    * true when the sample's collision count implies the column's distinct
    * count exceeds [[DictMaxCardinality]] with a 2x margin — the
    * birthday estimate D ~= k^2/2c inverted: fewer than k^2/(4*cap)
    * collisions among k samples means D >~ 2*cap, so the dictionary
    * would overflow anyway (the margin absorbs sampling variance at
    * ~cap-cardinality columns; see the threshold comment below).
    * (A plain >90%-unique test here mis-kills dict for mid-cardinality
    * columns: 10k distinct values in 65k rows sample ~95% unique yet
    * dict-compress ~6x.) Hash collisions only INFLATE the collision
    * count, i.e. bias toward keeping the dict candidate — the exact pass
    * then decides; the probe can skip work but never mis-select. */
  private def stridedImpliesOverCap(present: Array[Array[Byte]]): Boolean = {
    val step = math.max(1, present.length / 1024)
    val seen = new java.util.HashSet[Long]()
    var cnt = 0
    var i = 0
    while (i < present.length) {
      val v = present(i)
      var h = v.length.toLong * 0x9e3779b97f4a7c15L
      val head = math.min(16, v.length)
      var j = 0
      while (j < head) { h = h * 31 + v(j); j += 1 }
      j = math.max(head, v.length - 16)
      while (j < v.length) { h = h * 31 + v(j); j += 1 }
      seen.add(h)
      cnt += 1
      i += step
    }
    val collisions = (cnt - seen.size).toLong
    // 2x margin on the implied-cardinality estimate (abort only when
    // implied distinct > 2 * cap): sampling variance at ~cap-cardinality
    // columns otherwise kills a valid dict candidate a material fraction
    // of the time — e.g. 50k distinct under a 65k cap expects ~10
    // sample collisions, and the no-margin test discarded the dict on
    // every <=7-collision draw (~17% of chunks)
    collisions * 4L * DictMaxCardinality < cnt.toLong * cnt.toLong
  }

  /** Per-frame FL width stats of the VIRTUAL stream `[longs as 8-byte LE
    * each || payload]` WITHOUT materializing the concatenation. The
    * selector needs the FL-candidate / reference-baseline sizes on every
    * chunk, but the concatenated stream itself only when the fl_plain
    * form actually wins — the unconditional concat was an O(chunk) copy
    * per column on the encode hot path. Returns (framesCount, totalBits);
    * sizes derive from them exactly as in [[FlBytes.sizeOf]] /
    * [[ReferenceFl.fileSizeOf]] (same frame walk, same width floor —
    * parity is property-tested against the materialized stream in
    * ColumnCodecSpec). */
  private[codec] def flStreamFrames(longs: Array[Long], payload: Array[Byte]): (Long, Long) = {
    val lenBytes = 8L * longs.length
    val total = lenBytes + payload.length
    if (total == 0L) return (0L, 0L)
    val frame = ByteCodecs.FrameLength
    val framesCount = (total + frame - 1) / frame
    var totalBits = 0L
    var pos = 0L
    var f = 0L
    while (f < framesCount) {
      val end = math.min(total, (f + 1) * frame)
      var w = 1
      while (pos < end) {
        val b =
          if (pos < lenBytes)
            (longs((pos >>> 3).toInt) >>> (((pos & 7L).toInt) << 3)).toInt & 0xff
          else payload((pos - lenBytes).toInt) & 0xff
        val vw = 32 - Integer.numberOfLeadingZeros(b)
        if (vw > w) w = vw
        pos += 1
      }
      totalBits += w.toLong * (end - f * frame)
      f += 1
    }
    (framesCount, totalBits)
  }

  // --------------------------------------------------------------- longs

  /** Encode a long column chunk; `nulls(i)` marks null rows (may be null).
    * Values at null positions are ignored. `flOnly` skips the selector and
    * emits the FL-bitpack form directly — the same work the reference's
    * CPU path does (fl_cpu.cu:9-90), for apples-to-apples throughput. */
  def encodeLongs(values: Array[Long], nulls: Array[Boolean] = null,
                  flOnly: Boolean = false): Encoded = {
    require(values.length <= Int.MaxValue / 8,
      s"long column chunk too large: ${values.length} values")
    val present =
      if (nulls == null) values
      else {
        var m = 0
        var i = 0
        while (i < values.length) { if (!nulls(i)) m += 1; i += 1 }
        val out = new Array[Long](m)
        var src = 0
        i = 0
        while (i < values.length) {
          if (!nulls(i)) { out(src) = values(i); src += 1 }
          i += 1
        }
        out
      }
    val rawBytes = 8L * values.length

    val forSize = if (flOnly) Long.MaxValue else ForLongs.sizeOf(present)
    val rleSize = if (flOnly) Long.MaxValue else RleLongs.sizeOf(present)
    val deltaSize = if (flOnly) Long.MaxValue else DeltaLongs.sizeOf(present)
    val plainSize = if (flOnly) Long.MaxValue else PlainLongs.sizeOf(present)

    // LE byte stream only materialized if the FL form wins (it then feeds
    // FlBytes.encode); sizing is virtual — see flStreamFrames
    lazy val plainLe = longsToLeBytes(present)
    val (flFrames, flTotalBits) = flStreamFrames(present, Array.emptyByteArray)
    val flValueBytes = (flTotalBits + 7) / 8
    val flSize = Varint.sizeUnsigned(8L * present.length).toLong + flFrames + flValueBytes
    // the reference FL file covers only the value bytes; a null bitmap is
    // row-validity metadata either representation must carry, so it is
    // added to both sides of the size bound
    val bitmapBytes = if (nulls != null && nulls.exists(identity)) (values.length + 7L) / 8L else 0L
    val flBaseline = flFrames + flValueBytes + ReferenceFl.HeaderBytes + bitmapBytes

    val (winner, _) =
      if (flOnly) ("fl_plain_i64", flSize)
      // +1 on the named codecs: their FormLong body carries a codec-id
      // byte the fl_plain form does not — the selector must compare
      // REALIZED body sizes or a tie goes to the one-byte-larger block
      else Seq(
        ForLongs.name -> (forSize + 1L),
        RleLongs.name -> (rleSize + 1L),
        DeltaLongs.name -> (deltaSize + 1L),
        PlainLongs.name -> (plainSize + 1L),
        "fl_plain_i64" -> flSize).minBy(_._2)

    val out = new ByteArrayOutputStream(64)
    writeHeader(out, values.length, nulls)
    winner match {
      case "fl_plain_i64" =>
        out.write(FormLongFlPlain)
        val b = FlBytes.encode(plainLe)
        out.write(b, 0, b.length)
      case name =>
        out.write(FormLong)
        val codec = LongCodecs.all.find(_.name == name).get
        out.write(codec.id)
        val b = codec.encode(present)
        out.write(b, 0, b.length)
    }
    Encoded(winner, out.toByteArray, rawBytes, flBaseline)
  }

  def decodeLongs(block: Array[Byte]): (Array[Long], Array[Boolean]) = {
    val h = readHeader(block)
    val form = h.cur.readByte()
    val present: Array[Long] = form match {
      case FormLong =>
        val codec = LongCodecs.byId(h.cur.readByte())
        codec.decode(h.cur.buf, h.cur.pos)
      case FormLongFlPlain =>
        val plain = FlBytes.decode(h.cur.buf, h.cur.pos)
        val bb = java.nio.ByteBuffer.wrap(plain).order(java.nio.ByteOrder.LITTLE_ENDIAN)
        Array.fill(plain.length / 8)(bb.getLong())
      case f => throw new IllegalArgumentException(s"bad long form $f")
    }
    // fail AT the corrupt block, not with a bare index error rows later:
    // the inner codec's own count must agree with the header's arithmetic
    val expectedPresent = if (h.nulls == null) h.n else h.nulls.count(!_)
    require(present.length == expectedPresent,
      s"decoded ${present.length} longs where header implies $expectedPresent — corrupt block")
    if (h.nulls == null) (present, null)
    else {
      val out = new Array[Long](h.n)
      var src = 0
      var i = 0
      while (i < h.n) {
        if (!h.nulls(i)) { out(i) = present(src); src += 1 }
        i += 1
      }
      (out, h.nulls)
    }
  }

  // ------------------------------------------------------- bytes/strings

  /** Encode a string/binary column chunk (null entries = null rows).
    * `flOnly` skips the selector and emits the FL-bitpack-on-plain form
    * directly (reference-equivalent work, see [[encodeLongs]]). */
  def encodeBytes(values: Array[Array[Byte]], flOnly: Boolean = false): Encoded = {
    val n = values.length
    val nulls = if (values.exists(_ == null)) values.map(_ == null) else null
    val present = if (nulls == null) values else values.filter(_ != null)
    val lengths = present.map(_.length.toLong)
    val payloadLen = lengths.sum
    // bound the LARGEST derived buffer (plainStream = 8 bytes/row of
    // lengths + payload), not just the payload — 8L*n + payload can wrap
    // an Int allocation even when the payload alone fits
    require(8L * present.length + payloadLen <= Int.MaxValue - 16,
      s"column chunk too large: $payloadLen payload bytes over ${present.length} rows")
    val payload = new Array[Byte](payloadLen.toInt)
    var off = 0
    present.foreach { v => System.arraycopy(v, 0, payload, off, v.length); off += v.length }
    val rawBytes = payloadLen + 8L * n

    // reference baseline stream [lengths LE][payload]: SIZED virtually
    // (streaming per-frame width counter, no concat copy) and only
    // MATERIALIZED when the fl_plain form actually wins — it then feeds
    // FlBytes.encode in build()
    lazy val plainStream = {
      val le = longsToLeBytes(lengths)
      val s = new Array[Byte](le.length + payload.length)
      System.arraycopy(le, 0, s, 0, le.length)
      System.arraycopy(payload, 0, s, le.length, payload.length)
      s
    }
    val (flFrames, flTotalBits) = flStreamFrames(lengths, payload)
    val flValueBytes = (flTotalBits + 7) / 8
    val bitmapBytes = if (nulls != null) (n + 7L) / 8L else 0L
    val flBaseline = flFrames + flValueBytes + ReferenceFl.HeaderBytes + bitmapBytes
    val flSize = Varint.sizeUnsigned(8L * present.length + payloadLen).toLong + flFrames + flValueBytes

    // dictionary candidate (exact): distinct values + best-codec codes.
    // Early abort once the column is evidently near-unique (dict = payload
    // + codes then, strictly worse than the composite form) — saves
    // hashing the whole payload for url/text/html-like columns. The
    // prefix test alone would also kill a globally-repetitive column with
    // a unique HEAD (e.g. sorted input), so a triggered prefix test is
    // confirmed by a strided whole-column probe before aborting.
    val dictCandidate: Option[(Long, Array[Array[Byte]], Array[Long], LongCodec)] = if (flOnly) None else {
      val map = new java.util.LinkedHashMap[BytesKey, Integer]()
      val codes = new Array[Long](present.length)
      var ok = true
      var probed = false
      var i = 0
      while (i < present.length && ok) {
        val key = new BytesKey(present(i))
        var idx = map.get(key)
        if (idx == null) {
          if (map.size >= DictMaxCardinality) ok = false
          else { idx = Integer.valueOf(map.size); map.put(key, idx) }
        }
        if (ok) codes(i) = idx.longValue()
        i += 1
        if (!probed && (i & 1023) == 0 && map.size * 10L > i * 9L) { // prefix >90% unique (Long: i*9 wraps Int past ~238M rows)
          probed = true
          if (stridedImpliesOverCap(present)) ok = false
        }
      }
      if (!ok) None
      else {
        val dict = new Array[Array[Byte]](map.size)
        val it = map.keySet().iterator()
        var j = 0
        while (it.hasNext) { dict(j) = it.next().bytes; j += 1 }
        val dictBytes = dict.map(d => Varint.sizeUnsigned(d.length.toLong).toLong + d.length).sum
        // the winning codes codec is chosen HERE and threaded to build():
        // recomputing the minBy there would re-scan codes and could even
        // disagree if the two expressions ever drifted
        val (codesCodec, codesSize) = Seq[(LongCodec, Long)](
          (ForLongs, ForLongs.sizeOf(codes)),
          (RleLongs, RleLongs.sizeOf(codes)),
          (PlainLongs, PlainLongs.sizeOf(codes))).minBy(_._2)
        Some((Varint.sizeUnsigned(dict.length.toLong) + dictBytes + 1 + codesSize,
          dict, codes, codesCodec))
      }
    }

    // composite candidate: lengths (exact best long codec) + payload codec.
    // The FSST table is trained ONCE here and reused by the real encode if
    // FSST wins (training is the expensive half of the FSST path).
    // winning lengths codec chosen once and threaded to build() (no
    // duplicate O(n) sizeOf passes, no drift between two minBys)
    val (lenCodec, lenSize) = if (flOnly) (null: LongCodec, Long.MaxValue)
      else Seq[(LongCodec, Long)](
        (ForLongs, ForLongs.sizeOf(lengths)),
        (RleLongs, RleLongs.sizeOf(lengths)),
        (DeltaLongs, DeltaLongs.sizeOf(lengths))).minBy(_._2)
    val fsstSample: Array[Byte] =
      if (!flOnly && payload.length >= 256) FsstBytes.sample(payload) else null
    val fsstTable: FsstBytes.SymbolTable =
      if (fsstSample != null) FsstBytes.train(fsstSample) else null
    var fsstExact: Array[Byte] = null
    val payloadCandidates: Seq[(String, Long)] = if (flOnly) Seq.empty else Seq(
      RleBytes.name -> RleBytes.sizeOf(payload),
      FlBytes.name -> FlBytes.sizeOf(payload),
      PlainBytes.name -> PlainBytes.sizeOf(payload),
      FsstBytes.name -> (if (fsstTable == null) Long.MaxValue
        else if (fsstSample eq payload) {
          // the sample IS the whole payload (small column): the
          // "estimate" was already a full encode whose exact bytes were
          // then discarded and re-encoded in build(). Keep the block —
          // the size becomes exact (no +10 slack mis-ranking against
          // exact rivals) and the second encode disappears from the
          // hot path; the realized-size check below is then moot.
          fsstExact = FsstBytes.encodeWithTable(payload, fsstTable)
          fsstExact.length.toLong
        } else FsstBytes.estimateSizeWithTable(payload, fsstSample, fsstTable)))

    val candidates: Seq[(String, Long)] =
      if (flOnly) Seq("fl_plain" -> flSize)
      else {
        val (bestPayloadName, bestPayloadSize) = payloadCandidates.minBy(_._2)
        // composite body = [lenCodecId][varint lbLen][lb][pCodecId][pb]:
        // the varint length prefix is part of the realized block, so it
        // is part of the candidate size. Every candidate size here is
        // exact by contract EXCEPT an FSST payload (sampled estimate) —
        // the realized-vs-exact check after build() holds that one to
        // the smallest-encoding promise.
        Seq(s"$bestPayloadName+lens" ->
            (lenSize + Varint.sizeUnsigned(lenSize) + bestPayloadSize + 2),
          "fl_plain" -> flSize) ++
          dictCandidate.map { case (s, _, _, _) => "dict" -> s }
      }

    var (winner, _) = candidates.minBy(_._2)

    def build(name: String): Array[Byte] = {
      val out = new ByteArrayOutputStream(64)
      writeHeader(out, n, nulls)
      name match {
        case "dict" =>
          val (_, dict, codes, codesCodec) = dictCandidate.get
          out.write(FormBytesDict)
          Varint.writeUnsigned(out, dict.length.toLong)
          dict.foreach { d => Varint.writeUnsigned(out, d.length.toLong); out.write(d, 0, d.length) }
          out.write(codesCodec.id)
          val cb = codesCodec.encode(codes)
          out.write(cb, 0, cb.length)
        case "fl_plain" =>
          out.write(FormBytesFlPlain)
          val b = FlBytes.encode(plainStream)
          out.write(b, 0, b.length)
        case composite =>
          out.write(FormBytesComposite)
          out.write(lenCodec.id)
          val lb = lenCodec.encode(lengths)
          Varint.writeUnsigned(out, lb.length.toLong)
          out.write(lb, 0, lb.length)
          val pName = composite.stripSuffix("+lens")
          val pCodec = ByteCodecs.all.find(_.name == pName).get
          out.write(pCodec.id)
          val pb =
            if (pCodec == FsstBytes && fsstExact != null) fsstExact // sizing pass's block
            else if (pCodec == FsstBytes && fsstTable != null)
              FsstBytes.encodeWithTable(payload, fsstTable) // reuse trained table
            else pCodec.encode(payload)
          out.write(pb, 0, pb.length)
      }
      out.toByteArray
    }

    var bytes = build(winner)
    // FSST is the ONE candidate whose size is a sampled estimate (every
    // other size is exact by contract). When it wins, hold the REALIZED
    // block to the 'smallest encoding wins' promise: if the realized
    // body came out larger than the best exact candidate (the sampled
    // region compressed better than the tail), take the exact winner
    // instead. The comparison is realized-body vs exact-body in the
    // same units (candidate sizes exclude the shared header + form
    // byte), so the rebuild only happens when it is a guaranteed win.
    if (!flOnly && winner == s"${FsstBytes.name}+lens" && fsstExact == null) {
      val exactCandidates: Seq[(String, Long)] = {
        val (nm, sz) = payloadCandidates.filterNot(_._1 == FsstBytes.name).minBy(_._2)
        Seq(s"$nm+lens" -> (lenSize + Varint.sizeUnsigned(lenSize) + sz + 2),
          "fl_plain" -> flSize) ++
          dictCandidate.map { case (s, _, _, _) => "dict" -> s }
      }
      val (exactName, exactSize) = exactCandidates.minBy(_._2)
      val headerLen = {
        val tmp = new ByteArrayOutputStream(16)
        writeHeader(tmp, n, nulls)
        tmp.size
      }
      if (bytes.length.toLong - headerLen - 1 > exactSize) {
        winner = exactName
        bytes = build(winner)
      }
    }
    // structural bound: if the realized block still exceeds the
    // reference-FL baseline, fall back to FL-on-plain (whose realized
    // block is always < baseline: same payload, smaller header).
    if (bytes.length > flBaseline) {
      winner = "fl_plain"
      bytes = build(winner)
    }
    Encoded(winner, bytes, rawBytes, flBaseline)
  }

  /** Zero-copy decoded view of a bytes column: row i is
    * `payload[starts(i), starts(i)+lens(i))` (or null). Exists because the
    * decode hot path (GraftPartitionReader) turns values straight into
    * UTF8Strings or CRC updates — materializing an Array[Byte] per row
    * first (decodeBytes) is a copy per value that the consumer
    * immediately throws away. For dict-encoded columns the win is bigger still: rows
    * point into the SHARED dictionary buffer, so a column of 64k rows over
    * 5 distinct values decodes with zero payload expansion. */
  final class BytesView(
      val n: Int,
      val nulls: Array[Boolean],
      val payload: Array[Byte],
      private val starts: Array[Int],
      private val lens: Array[Int]) {
    @inline def isNull(i: Int): Boolean = nulls != null && nulls(i)
    @inline def start(i: Int): Int = starts(i)
    @inline def len(i: Int): Int = lens(i)
    def copyAt(i: Int): Array[Byte] =
      if (isNull(i)) null
      else java.util.Arrays.copyOfRange(payload, starts(i), starts(i) + lens(i))
  }

  /** Decode to a [[BytesView]] (no per-row payload copies); the row-array
    * form is [[decodeBytes]]. */
  def decodeBytesView(block: Array[Byte]): BytesView = {
    val h = readHeader(block)
    val form = h.cur.readByte()
    // (payload, presentStarts, presentLens) for the non-null rows in order
    val (payload, pStarts, pLens): (Array[Byte], Array[Int], Array[Int]) = form match {
      case FormBytesDict =>
        val dictSizeL = h.cur.readUnsignedVarint()
        require(dictSizeL >= 0L && dictSizeL <= h.cur.remaining,
          s"dict size $dictSizeL exceeds remaining ${h.cur.remaining} bytes — corrupt block")
        val dictSize = dictSizeL.toInt
        val dStarts = new Array[Int](dictSize)
        val dLens = new Array[Int](dictSize)
        // dictionary entries live in the block buffer itself (after their
        // varint length prefixes); point straight at them, no copies —
        // which is exactly why each length must be bounds-checked HERE:
        // advancing the cursor past a corrupt length would silently parse
        // every later entry and the codes block from shifted offsets
        // (readBytes guards its own copies; this zero-copy path must
        // guard its own advance)
        var j = 0
        while (j < dictSize) {
          val lv = h.cur.readUnsignedVarint()
          require(lv >= 0L && lv <= h.cur.remaining,
            s"dict entry $j length $lv exceeds remaining ${h.cur.remaining} bytes — corrupt block")
          val l = lv.toInt
          dLens(j) = l
          dStarts(j) = h.cur.pos
          h.cur.pos += l
          j += 1
        }
        val codec = LongCodecs.byId(h.cur.readByte())
        val codes = codec.decode(h.cur.buf, h.cur.pos)
        val starts = new Array[Int](codes.length)
        val lens = new Array[Int](codes.length)
        var i = 0
        while (i < codes.length) {
          val c = codes(i).toInt
          starts(i) = dStarts(c)
          lens(i) = dLens(c)
          i += 1
        }
        (h.cur.buf, starts, lens)
      case FormBytesComposite =>
        val lenCodec = LongCodecs.byId(h.cur.readByte())
        val lenBlockLen = h.cur.readUnsignedVarint().toInt
        val lengths = lenCodec.decode(h.cur.readBytes(lenBlockLen))
        val pCodec = ByteCodecs.byId(h.cur.readByte())
        val payload = pCodec.decode(h.cur.buf, h.cur.pos)
        val starts = new Array[Int](lengths.length)
        val lens = new Array[Int](lengths.length)
        var off = 0
        var i = 0
        while (i < lengths.length) {
          val l = lengths(i).toInt
          starts(i) = off
          lens(i) = l
          off += l
          i += 1
        }
        (payload, starts, lens)
      case FormBytesFlPlain =>
        val presentCount = if (h.nulls == null) h.n else h.nulls.count(!_)
        val plain = FlBytes.decode(h.cur.buf, h.cur.pos)
        val bb = java.nio.ByteBuffer.wrap(plain, 0, presentCount * 8).order(java.nio.ByteOrder.LITTLE_ENDIAN)
        val starts = new Array[Int](presentCount)
        val lens = new Array[Int](presentCount)
        var off = presentCount * 8
        var i = 0
        while (i < presentCount) {
          val l = bb.getLong().toInt
          starts(i) = off
          lens(i) = l
          off += l
          i += 1
        }
        (plain, starts, lens)
      case f => throw new IllegalArgumentException(s"bad bytes form $f")
    }
    // same fail-at-the-damage contract as decodeLongs: the decoded
    // present-row count must match the header's arithmetic
    val expectedPresent = if (h.nulls == null) h.n else h.nulls.count(!_)
    require(pStarts.length == expectedPresent,
      s"decoded ${pStarts.length} rows where header implies $expectedPresent — corrupt block")
    if (h.nulls == null) new BytesView(h.n, null, payload, pStarts, pLens)
    else {
      // scatter present entries to row positions; null rows keep (0, 0)
      val starts = new Array[Int](h.n)
      val lens = new Array[Int](h.n)
      var src = 0
      var i = 0
      while (i < h.n) {
        if (!h.nulls(i)) { starts(i) = pStarts(src); lens(i) = pLens(src); src += 1 }
        i += 1
      }
      new BytesView(h.n, h.nulls, payload, starts, lens)
    }
  }

  /** Materializing decode: one FRESH Array[Byte] per non-null row.
    * Delegates to [[decodeBytesView]] — one set of form decoders to keep
    * in sync — and the per-row copyAt also fixes the old dict-form
    * behavior of returning ALIASED arrays (every duplicate row shared
    * the dictionary's backing array, so a caller mutating one returned
    * row in place silently corrupted all duplicates — but only when the
    * selector had happened to pick the dict form for that chunk). */
  def decodeBytes(block: Array[Byte]): Array[Array[Byte]] = {
    val v = decodeBytesView(block)
    Array.tabulate(v.n)(v.copyAt)
  }
}
