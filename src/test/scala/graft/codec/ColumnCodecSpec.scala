package graft.codec

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen

class ColumnCodecSpec extends AnyFunSuite with GenDriven {

  private val longCols: Gen[(Array[Long], Array[Boolean])] = for {
    n <- Gen.chooseNum(0, 600)
    seed <- Gen.chooseNum(0L, Long.MaxValue)
    withNulls <- Gen.oneOf(true, false)
    mode <- Gen.oneOf("ts", "random", "const")
  } yield {
    val rnd = new scala.util.Random(seed)
    val values = mode match {
      case "ts"     => Array.fill(n)(1751587200000000L + rnd.nextInt(1 << 20).toLong)
      case "random" => Array.fill(n)(rnd.nextLong())
      case "const"  => Array.fill(n)(42L)
    }
    val nulls = if (withNulls && n > 0) Array.fill(n)(rnd.nextInt(5) == 0) else null
    (values, nulls)
  }

  private val bytesCols: Gen[Array[Array[Byte]]] = for {
    n <- Gen.chooseNum(0, 400)
    seed <- Gen.chooseNum(0L, Long.MaxValue)
    mode <- Gen.oneOf("lowcard", "text", "binaryish", "withnulls", "empty_strings")
  } yield {
    val rnd = new scala.util.Random(seed)
    val langs = Array("en", "de", "fr", "pl", "ja", "zh", "es", "pt", "ru", "it")
    Array.fill[Array[Byte]](n)(mode match {
      case "lowcard"  => langs(rnd.nextInt(langs.length)).getBytes("UTF-8")
      case "text"     => (s"doc ${rnd.nextInt(1000)} the quick brown fox " * (1 + rnd.nextInt(3))).getBytes("UTF-8")
      case "binaryish" => { val b = new Array[Byte](rnd.nextInt(200)); rnd.nextBytes(b); b }
      case "withnulls" => if (rnd.nextInt(4) == 0) null else s"v${rnd.nextInt(50)}".getBytes("UTF-8")
      case "empty_strings" => if (rnd.nextBoolean()) Array.emptyByteArray else "x".getBytes("UTF-8")
    })
  }

  test("long column round-trip with and without nulls") {
    forAll(longCols) { case (values, nulls) =>
      val enc = ColumnCodec.encodeLongs(values, nulls)
      val (back, backNulls) = ColumnCodec.decodeLongs(enc.bytes)
      if (nulls == null || !nulls.exists(identity)) {
        // an all-false mask is canonicalized to "no nulls"
        assert(backNulls == null)
        assert(back.toSeq == values.toSeq)
      } else {
        assert(backNulls.toSeq == nulls.toSeq)
        values.indices.foreach(i => if (!nulls(i)) assert(back(i) == values(i)))
      }
    }
  }

  test("bytes column round-trip incl. nulls and empty strings") {
    forAll(bytesCols) { values =>
      val enc = ColumnCodec.encodeBytes(values)
      val back = ColumnCodec.decodeBytes(enc.bytes)
      assert(back.length == values.length)
      values.indices.foreach { i =>
        if (values(i) == null) assert(back(i) == null)
        else assert(back(i).toSeq == values(i).toSeq, s"row $i codec=${enc.codecName}")
      }
    }
  }

  test("decodeBytesView is value-identical to decodeBytes across all forms") {
    forAll(bytesCols) { values =>
      val enc = ColumnCodec.encodeBytes(values)
      val arrays = ColumnCodec.decodeBytes(enc.bytes)
      val view = ColumnCodec.decodeBytesView(enc.bytes)
      assert(view.n == values.length)
      values.indices.foreach { i =>
        if (values(i) == null) {
          assert(view.isNull(i) && view.copyAt(i) == null)
        } else {
          assert(!view.isNull(i))
          assert(view.copyAt(i).toSeq == arrays(i).toSeq, s"row $i codec=${enc.codecName}")
        }
      }
    }
    // forced flOnly form too (the property gen rarely picks it)
    val vals = Array.tabulate(300)(i => s"row-$i".getBytes("UTF-8"))
    val fl = ColumnCodec.encodeBytes(vals, flOnly = true)
    val v = ColumnCodec.decodeBytesView(fl.bytes)
    vals.indices.foreach(i => assert(v.copyAt(i).toSeq == vals(i).toSeq))
  }

  test("virtual FL sizing == materialized-stream sizing (bit parity of the width walk)") {
    def leBytes(longs: Array[Long]): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(longs.length * 8).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      longs.foreach(bb.putLong)
      bb.array()
    }
    def check(longs: Array[Long], payload: Array[Byte]): Unit = {
      val materialized = leBytes(longs) ++ payload
      val (frames, totalBits) = ColumnCodec.flStreamFrames(longs, payload)
      val virtFlSize = Varint.sizeUnsigned(materialized.length.toLong).toLong + frames + (totalBits + 7) / 8
      val virtRefSize = frames + (totalBits + 7) / 8 + ReferenceFl.HeaderBytes
      assert(virtFlSize == FlBytes.sizeOf(materialized),
        s"FlBytes.sizeOf mismatch at ${longs.length} longs + ${payload.length} payload")
      assert(virtRefSize == ReferenceFl.fileSizeOf(materialized),
        s"ReferenceFl.fileSizeOf mismatch at ${longs.length} longs + ${payload.length} payload")
    }
    // empty / boundary shapes the generator rarely hits
    check(Array.emptyLongArray, Array.emptyByteArray)
    check(Array.emptyLongArray, Array.fill[Byte](129)(0x7f))
    check(Array.fill(16)(Long.MaxValue), Array.emptyByteArray) // lengths end exactly on a frame edge
    check(Array(-1L, 0L, Long.MinValue), Array[Byte](0, 1, -1))
    forAll(bytesCols) { values =>
      val present = values.filter(_ != null)
      check(present.map(_.length.toLong), present.flatten)
    }
    forAll(longCols) { case (values, _) => check(values, Array.emptyByteArray) }
  }

  test("north-rule bound: encoded block <= reference FL file on same bytes") {
    forAll(bytesCols) { values =>
      val enc = ColumnCodec.encodeBytes(values)
      assert(enc.bytes.length.toLong <= enc.flBaselineBytes,
        s"codec=${enc.codecName} ${enc.bytes.length} > ${enc.flBaselineBytes}")
    }
    forAll(longCols) { case (values, nulls) =>
      val enc = ColumnCodec.encodeLongs(values, nulls)
      assert(enc.bytes.length.toLong <= enc.flBaselineBytes,
        s"codec=${enc.codecName} ${enc.bytes.length} > ${enc.flBaselineBytes}")
    }
  }

  test("flOnly mode: reference-equivalent FL form, round-trips, <= baseline") {
    forAll(bytesCols) { values =>
      val enc = ColumnCodec.encodeBytes(values, flOnly = true)
      assert(enc.codecName == "fl_plain", enc.codecName)
      assert(enc.bytes.length.toLong <= enc.flBaselineBytes)
      val back = ColumnCodec.decodeBytes(enc.bytes)
      values.indices.foreach { i =>
        if (values(i) == null) assert(back(i) == null)
        else assert(back(i).toSeq == values(i).toSeq)
      }
    }
    forAll(longCols) { case (values, nulls) =>
      val enc = ColumnCodec.encodeLongs(values, nulls, flOnly = true)
      assert(enc.codecName == "fl_plain_i64", enc.codecName)
      assert(enc.bytes.length.toLong <= enc.flBaselineBytes)
      val (back, backN) = ColumnCodec.decodeLongs(enc.bytes)
      values.indices.foreach { i =>
        val isNull = nulls != null && nulls(i)
        assert((backN != null && backN(i)) == isNull, s"flOnly null mask diverged at $i")
        if (!isNull) assert(back(i) == values(i))
      }
    }
  }

  test("selector picks the right codec per constructed column") {
    // constant long column -> RLE
    val constEnc = ColumnCodec.encodeLongs(Array.fill(1000)(7L))
    assert(constEnc.codecName == "rle_i64", constEnc.codecName)
    // narrow-range timestamps -> FOR or delta
    val ts = Array.iterate(1751587200000000L, 1000)(_ + 1000L)
    val tsEnc = ColumnCodec.encodeLongs(ts)
    assert(Set("for_bitpack", "delta_for").contains(tsEnc.codecName), tsEnc.codecName)
    // low-cardinality strings -> dict
    val langs = Array("en", "de", "fr")
    val rnd = new scala.util.Random(3)
    val langCol = Array.fill(2000)(langs(rnd.nextInt(3)).getBytes("UTF-8"))
    val langEnc = ColumnCodec.encodeBytes(langCol)
    assert(langEnc.codecName == "dict", langEnc.codecName)
    // boilerplate-heavy text -> fsst composite
    val texts = Array.tabulate(500)(i =>
      s"Breaking news item $i: the committee announced that the quarterly report shows steady growth".getBytes("UTF-8"))
    val textEnc = ColumnCodec.encodeBytes(texts)
    assert(textEnc.codecName.startsWith("fsst"), textEnc.codecName)
    // all codecs compress vs raw
    assert(langEnc.bytes.length < langEnc.rawBytes / 4)
    assert(textEnc.bytes.length < textEnc.rawBytes / 2)
  }

  test("dict survives mid-cardinality columns the uniqueness heuristic would kill") {
    // 60k rows over 10k distinct 40-byte values in random order: a ~1k
    // sample looks ~92% unique (so a plain uniqueness probe aborts dict),
    // but D=10k is far under the 65536 cap and dict wins clearly — the
    // probe must reason about implied cardinality, not sample uniqueness
    val rnd = new scala.util.Random(5)
    // values themselves are incompressible (random alphanumerics), so only
    // the dictionary can exploit the repetition — isolates the probe call
    val alpha = "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789"
    val vals = Array.fill(10000)(
      Array.fill(40)(alpha(rnd.nextInt(alpha.length)).toByte))
    val col = Array.fill(60000)(vals(rnd.nextInt(vals.length)))
    val enc = ColumnCodec.encodeBytes(col)
    assert(enc.codecName == "dict", enc.codecName)
    val back = ColumnCodec.decodeBytes(enc.bytes)
    col.indices.foreach(i => assert(back(i).toSeq == col(i).toSeq))
  }

  test("corrupt dict entry length fails AT the block, not as shifted offsets") {
    // a dict block whose first entry-length varint is inflated past the
    // buffer: the zero-copy decoder must refuse to advance the cursor
    // (silently parsing every later entry and the codes block from
    // shifted offsets was the failure mode), same contract as readBytes
    val langs = Array("en", "de", "fr")
    val rnd = new scala.util.Random(11)
    val col = Array.fill(500)(langs(rnd.nextInt(3)).getBytes("UTF-8"))
    val enc = ColumnCodec.encodeBytes(col)
    assert(enc.codecName == "dict", enc.codecName)
    // layout: [header][form][varint dictSize][varint len0]... — header is
    // [version][varint n][varint nullCount] = 1+2+1 = 4 bytes for n=500
    // no-nulls, so form at 4, dictSize varint at 5, len0 at 6
    val corrupt = enc.bytes.clone()
    corrupt(6) = 0xFF.toByte // len0 varint now claims a huge length
    corrupt(7) = 0xFF.toByte
    corrupt(8) = 0x7F.toByte
    val ex = intercept[IllegalArgumentException] { ColumnCodec.decodeBytes(corrupt) }
    assert(ex.getMessage.contains("corrupt"), ex.getMessage)
  }

  test("inner-count disagreement with the header fails loudly") {
    // craft a block whose header claims more rows than the inner codec
    // holds: take a 50-row no-null long column and patch the header's n
    // varint from 50 to 60 — the decoder must fail at the block with a
    // named error, not return a short array for callers to index past
    val enc = ColumnCodec.encodeLongs(Array.tabulate(50)(_.toLong * 3))
    val corrupt = enc.bytes.clone()
    // header: [version][varint n][varint nullCount] — n=50 is one byte at
    // offset 1
    assert(corrupt(1) == 50.toByte)
    corrupt(1) = 60.toByte
    val ex = intercept[IllegalArgumentException] { ColumnCodec.decodeLongs(corrupt) }
    assert(ex.getMessage.contains("header implies"), ex.getMessage)
    // same contract on the bytes side
    val encB = ColumnCodec.encodeBytes(Array.tabulate(50)(i => s"v$i".getBytes("UTF-8")))
    val corruptB = encB.bytes.clone()
    assert(corruptB(1) == 50.toByte)
    corruptB(1) = 60.toByte
    val exB = intercept[Exception] { ColumnCodec.decodeBytes(corruptB) }
    assert(exB.getMessage != null)
  }

  test("corrupt varint fails loudly instead of mis-slicing") {
    val enc = ColumnCodec.encodeBytes(Array.tabulate(50)(i => s"value-$i".getBytes("UTF-8")))
    // overwrite the row-count varint region with endless continuation bytes
    val corrupt = enc.bytes.clone()
    (1 until math.min(14, corrupt.length)).foreach(i => corrupt(i) = 0x80.toByte)
    val ex = intercept[IllegalArgumentException] { ColumnCodec.decodeBytes(corrupt) }
    assert(ex.getMessage.contains("varint") || ex.getMessage.contains("version"), ex.getMessage)
  }

  test("ByteCursor rejects 64-bit varint overflow and past-end reads") {
    // [0x80 x9, 0x40]: shift is 63 on the 10th byte, whose 0x40 payload
    // bit would be shifted out of the Long ((0x40L << 63) == 0) — the old
    // guard accepted it and returned 0
    val overflow = new ByteCursor(Array.fill[Byte](9)(0x80.toByte) :+ 0x40.toByte)
    val ex1 = intercept[IllegalArgumentException] { overflow.readUnsignedVarint() }
    assert(ex1.getMessage.contains("overflows"), ex1.getMessage)
    // a full 10-byte encoding of -1L (all 64 bits set) must still decode
    val neg = new java.io.ByteArrayOutputStream()
    Varint.writeUnsigned(neg, -1L)
    assert(new ByteCursor(neg.toByteArray).readUnsignedVarint() == -1L)
    // readBytes past the end must fail, not zero-pad (copyOfRange pads)
    val short = new ByteCursor(Array[Byte](1, 2, 3))
    val ex2 = intercept[IllegalArgumentException] { short.readBytes(4) }
    assert(ex2.getMessage.contains("remaining"), ex2.getMessage)
    assert(short.readBytes(3).toSeq == Seq[Byte](1, 2, 3))
  }

  test("ReferenceFl.merge rejects misaligned interior parts") {
    val a = ReferenceFl.compress(Array.tabulate(100)(_.toByte)) // not 128-aligned
    val b = ReferenceFl.compress(Array.tabulate(100)(_.toByte))
    val ex = intercept[IllegalArgumentException] { ReferenceFl.merge(Seq(a, b)) }
    assert(ex.getMessage.contains("aligned"))
    // aligned parts still merge and round-trip
    val c = ReferenceFl.compress(Array.tabulate(256)(_.toByte))
    val merged = ReferenceFl.merge(Seq(c, b))
    assert(ReferenceFl.decompress(merged).toSeq ==
      (Array.tabulate(256)(_.toByte) ++ Array.tabulate(100)(_.toByte)).toSeq)
  }

  test("dict survives a unique head on a globally repetitive column") {
    // first ~1.5k rows unique (sorted-input shape), remaining 30k rows from
    // 8 values: the prefix early-abort alone would discard the dict
    // candidate here; the strided whole-column probe must keep it alive
    val rnd = new scala.util.Random(11)
    val tailVals = Array.tabulate(8)(i => s"frequent-value-number-$i-with-some-padding-bytes".getBytes("UTF-8"))
    val col = Array.tabulate(31500)(i =>
      if (i < 1500) s"unique-head-$i-${rnd.nextLong()}".getBytes("UTF-8")
      else tailVals(rnd.nextInt(8)))
    val enc = ColumnCodec.encodeBytes(col)
    assert(enc.codecName == "dict", enc.codecName)
    val back = ColumnCodec.decodeBytes(enc.bytes)
    col.indices.foreach(i => assert(back(i).toSeq == col(i).toSeq))
    // and a truly near-unique column still skips dict (the abort fires)
    val uniq = Array.tabulate(4000)(i => s"https://example.org/page/$i/${rnd.nextLong()}".getBytes("UTF-8"))
    val uEnc = ColumnCodec.encodeBytes(uniq)
    assert(uEnc.codecName != "dict", uEnc.codecName)
  }
}
