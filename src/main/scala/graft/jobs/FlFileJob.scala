package graft.jobs

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

import graft.codec.ReferenceFl
import graft.sources.SerializableConf

/** File-level FL compress/decompress — the reference CLI's own surface
  * (`compress c|d fl <in> <out>`), re-expressed on Spark.
  *
  * Compress mirrors the reference's distributed variant
  * (/root/reference/src/fl/fl_gpu.cu:41-74 gpuMPICompress +
  * file_io.cu:28-71 loadFileMpi): the file is split into 128-aligned
  * slices (no frame straddles a slice — fl_common.cuh:8-9), each Spark
  * task compresses its slice independently and writes its own `bits` and
  * `values` part files (the distributed-write inversion of the
  * reference's gather-to-rank-0), and the driver stream-concatenates the
  * parts in slice order through a fixed-size copy buffer. Driver memory
  * is O(1) in the file size — only per-slice size triples are collected
  * (the reference's MPI_Allgather of sizes, fl_gpu.cu:100-109); payload
  * bytes never pass through the driver. The output file is bit-identical
  * to a whole-file single-node encode — the same alignment invariant
  * behind MergeFLCompressed (fl_common.cuh:95-151: full frames are
  * byte-aligned, so bits/values arrays concatenate exactly).
  *
  * Decompress is the symmetric distributed job. The reference has no
  * distributed decompress at all (main.cu:131-169: `fl` -> GPU else CPU,
  * no MPI variant) — but its own device path already contains the key
  * idea: an exclusive prefix scan over `bits[f]*128` yields every frame's
  * bit offset (fl_gpu.cu:595-601). That scan is realized as the classic
  * distributed two-phase prefix sum: stage 1 tasks each total their own
  * slice's frame bit counts, the driver folds the O(#slices) partials
  * into exclusive byte offsets — exact, because every full frame's
  * payload is `bits_f*16` bytes, always byte-aligned, so a frame-aligned
  * slice always starts on a byte boundary. Stage 2 tasks seek to their
  * own (bits, values) ranges, decode their frames independently, and
  * write raw part files the driver stream-concatenates in slice order.
  * Driver memory is O(#slices) + a stream buffer; per-task memory is
  * bounded by the slice cap — nothing O(n) ever passes through the
  * driver (at 100 TB even the bits array alone is ~0.8 TB).
  *
  * ALL I/O goes through the Hadoop FileSystem API: every task opens the
  * shared input itself (the reference's every-rank-opens-the-file model,
  * file_io.cu:28-71) and issues POSITIONED reads — so `hdfs://` and
  * `s3a://` paths work unchanged, and the per-task request pattern is
  * explicit and bounded: exactly one ranged read per array a task
  * touches (compress: 1 input range; decompress: 1 bits range + 1 values
  * range — on an object store, 1-2 ranged GETs per task), plus one
  * streaming part-file write. The driver's concat re-reads each part
  * once, sequentially. Tasks receive the DRIVER's Hadoop configuration
  * (spark.hadoop.* overrides, object-store credentials included) via a
  * serializable wrapper, not a fresh executor-side default.
  *
  * This is the one deliberate RDD surface in the engine (north_rule says
  * Dataset-first): the input is an opaque byte file with no schema, so a
  * `parallelize` of slice bounds is the honest representation — there is
  * no row type for Catalyst to optimize.
  */
object FlFileJob {

  /** Largest slice a task may take: the biggest 128-aligned byte count
    * that still fits a JVM Array (the reference's int offsets overflow
    * past 2 GB — file_io.cu:46-51, SURVEY.md §2.1; our slices stay Long
    * *and* provably under Int.MaxValue each). */
  val MaxSliceBytes: Long = (Int.MaxValue.toLong / ReferenceFl.FrameLength) * ReferenceFl.FrameLength

  /** 128-aligned slice bounds, last slice takes the remainder
    * (file_io.cu:39-56). The slice count auto-raises (doubling) until the
    * largest slice — the last one, which owns the remainder — fits under
    * [[MaxSliceBytes]], so a 1-slice request on a >2 GB file degrades to
    * more slices instead of a negative-size allocation. */
  def sliceBounds(fileSize: Long, slices: Int): Seq[(Long, Long)] = {
    val frame = ReferenceFl.FrameLength.toLong
    var n = math.max(1, slices)
    def per(k: Int): Long = (fileSize / (frame * k)) * frame
    def lastSlice(k: Int): Long = fileSize - per(k) * (k - 1)
    // the doubling must be BOUNDED: lastSlice(k) ~ fileSize/k + frame*k
    // turns around and GROWS again past k ~ sqrt(fileSize/frame), so for
    // a multi-petabyte file no k satisfies it — unbounded doubling would
    // overflow the Int and emit garbage negative bounds (or spin). The
    // remainder-to-last scheme (reference parity) covers every file up
    // to ~9 PB; past the bound the even fallback below takes over.
    while (lastSlice(n) > MaxSliceBytes && n <= (1 << 24)) n *= 2
    if (lastSlice(n) > MaxSliceBytes) {
      // even FRAME distribution: first (frames % n) slices carry one
      // extra frame, the last carries the sub-frame tail — every slice
      // provably fits a JVM array for any Long-expressible file size.
      // Only the slice count and cap are observable downstream (the FL
      // format records per-slice sizes), so parity is unaffected in the
      // regime the reference itself can address.
      val frames = fileSize / frame
      val maxFramesPerSlice = MaxSliceBytes / frame - 1 // -1: headroom for the extra frame
      val m0 = (frames + maxFramesPerSlice - 1) / maxFramesPerSlice
      require(m0 <= Int.MaxValue.toLong,
        s"FL file of $fileSize bytes needs $m0 slices — beyond the Int slice-count type")
      val m = math.max(math.max(1, slices).toLong, m0).toInt
      val base = frames / m
      val extra = frames % m
      var start = 0L
      return (0 until m).map { i =>
        val len = (base + (if (i < extra) 1L else 0L)) * frame
        val s0 = start
        val end = if (i == m - 1) fileSize else s0 + len
        start = s0 + len
        (s0, end)
      }
    }
    val p = per(n)
    if (p == 0) Seq((0L, fileSize))
    else (0 until n).map { i =>
      val start = i.toLong * p
      val end = if (i == n - 1) fileSize else start + p
      (start, end)
    }
  }

  /** Unique scratch dir for part files: `<out>.parts` alone would clobber
    * an unrelated pre-existing path of that name and let two concurrent
    * invocations over the same `out` rmrf each other's live parts
    * mid-run; a UUID suffix makes each invocation's scratch private (a
    * crashed run leaks one dir next to its also-incomplete output —
    * visible, and removed by the next successful run's cleanup of `out`'s
    * siblings is deliberately NOT attempted: never delete paths this
    * invocation did not create). */
  private def newPartsDir(conf: Configuration, out: String): String = {
    val dir = s"$out.parts-${java.util.UUID.randomUUID().toString.take(8)}"
    fs(conf, dir).mkdirs(new Path(dir))
    dir
  }

  def compress(spark: SparkSession, in: String, out: String, slices: Int = 32): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    val fileSize = fs(conf, in).getFileStatus(new Path(in)).getLen
    val bounds = sliceBounds(fileSize, slices)
    val partsDir = newPartsDir(conf, out)
    val confSer = spark.sparkContext.broadcast(new SerializableConf(conf))

    try {
      // executors: compress own slice, write own parts, return sizes only
      val meta = spark.sparkContext
        .parallelize(bounds.zipWithIndex, bounds.size)
        .map { case ((start, end), idx) =>
          val tconf = confSer.value.value
          val buf = readRange(tconf, in, start, end - start, s"slice $idx")
          val c = ReferenceFl.compress(buf)
          writeFile(tconf, f"$partsDir/bits-$idx%05d", c.bits)
          writeFile(tconf, f"$partsDir/values-$idx%05d", c.values)
          (idx, c.inputSize, c.bits.length.toLong, c.values.length.toLong)
        }
        .collect()
        .sortBy(_._1)

      // driver: header (3 LE longs — ReferenceFl.headerOf, the one layout
      // definition) + ordered stream concat of bits parts then values
      // parts; bounded by the copy buffer
      val totalIn = meta.map(_._2).sum
      val totalBits = meta.map(_._3).sum
      val totalValues = meta.map(_._4).sum
      val parts =
        meta.map(m => (f"$partsDir/bits-${m._1}%05d", m._3)) ++
          meta.map(m => (f"$partsDir/values-${m._1}%05d", m._4))
      concatParts(conf, out, ReferenceFl.headerOf(totalIn, totalBits, totalValues), parts)
      ReferenceFl.HeaderBytes + totalBits + totalValues
    } finally rmrf(conf, partsDir)
  }

  /** Distributed decompress; returns the raw (decoded) byte count. */
  def decompress(spark: SparkSession, in: String, out: String, slices: Int = 32): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    // up-front length check: a truncated/non-FL input must fail with a
    // named cause like every other corruption mode here, not an opaque
    // EOFException out of readFully
    val inLen = fs(conf, in).getFileStatus(new Path(in)).getLen
    require(inLen >= ReferenceFl.HeaderBytes,
      s"$in is $inLen bytes — shorter than the ${ReferenceFl.HeaderBytes}-byte FL header")
    val hdr = readRange(conf, in, 0L, ReferenceFl.HeaderBytes, "header")
    val (inputSize, bitsSize, valuesSize) = ReferenceFl.readHeader(hdr)
    if (inputSize == 0L) {
      writeFile(conf, out, Array.emptyByteArray)
      return 0L
    }
    require(bitsSize == (inputSize + ReferenceFl.FrameLength - 1) / ReferenceFl.FrameLength,
      s"corrupt header: $bitsSize bits entries for $inputSize input bytes")

    // slice the OUTPUT space frame-aligned; the same bounds machinery (and
    // 2 GiB cap) as compress, so decompress handles any file compress made
    val bounds = sliceBounds(inputSize, slices)
    val startFrames = bounds.map(_._1 / ReferenceFl.FrameLength)
    val confSer = spark.sparkContext.broadcast(new SerializableConf(conf))

    // stage 1 — DISTRIBUTED partial sums over the bits array (the
    // reference's own two-phase sizing: prefix scan over bits[f]*128,
    // fl_gpu.cu:595-601): each task sums its own slice's frame bit
    // counts, the driver folds the O(#slices) partials into exclusive
    // byte offsets. Nothing O(n) ever flows through the driver — at a
    // 100-TB file the bits array alone is ~0.8 TB, far too much for a
    // driver-side streaming pass.
    val headerBytes = ReferenceFl.HeaderBytes
    val sliceBitTotals = spark.sparkContext
      .parallelize(bounds.zipWithIndex, bounds.size)
      .map { case ((outStart, outEnd), idx) =>
        val frameStart = outStart / ReferenceFl.FrameLength
        val frameCnt = ((outEnd - outStart + ReferenceFl.FrameLength - 1) /
          ReferenceFl.FrameLength).toInt
        val bits = readRange(confSer.value.value, in, headerBytes + frameStart,
          frameCnt.toLong, s"slice $idx bits")
        var total = 0L
        var f = 0
        while (f < frameCnt) {
          val w = bits(f) & 0xff
          require(w >= 1 && w <= 8,
            s"bits[${frameStart + f}] = $w out of [1,8] — truncated or corrupt file")
          total += w.toLong * math.min(ReferenceFl.FrameLength.toLong,
            outEnd - outStart - f.toLong * ReferenceFl.FrameLength)
          f += 1
        }
        (idx, total)
      }
      .collect()
      .sortBy(_._1)
      .map(_._2)

    val valueStarts = new Array[Long](bounds.size + 1)
    var cumBits = 0L
    var b = 0
    while (b < bounds.size) {
      // every slice except the last holds only FULL frames (bits_f*128
      // bits = bits_f*16 bytes each), so slice boundaries are byte-aligned
      require(cumBits % 8 == 0, s"slice $b starts mid-byte — corrupt bits array")
      valueStarts(b) = cumBits / 8
      cumBits += sliceBitTotals(b)
      b += 1
    }
    valueStarts(bounds.size) = valuesSize
    require((cumBits + 7) / 8 == valuesSize,
      s"bits array implies ${(cumBits + 7) / 8} payload bytes, header says $valuesSize")

    val partsDir = newPartsDir(conf, out)

    // executors: each task decodes its frame range independently (chunk
    // independence, SURVEY.md §1.1) and writes its own raw part file
    val tasks = bounds.zipWithIndex.map { case ((outStart, outEnd), idx) =>
      (idx, startFrames(idx), valueStarts(idx), valueStarts(idx + 1), outEnd - outStart)
    }
    val total =
      try {
        val meta = spark.sparkContext
          .parallelize(tasks, tasks.size)
          .map { case (idx, frameStart, vStart, vEnd, outLen) =>
            val tconf = confSer.value.value
            val frameCnt = ((outLen + ReferenceFl.FrameLength - 1) / ReferenceFl.FrameLength).toInt
            val bits = readRange(tconf, in, headerBytes + frameStart, frameCnt.toLong,
              s"slice $idx bits")
            val values = readRange(tconf, in, headerBytes + bitsSize + vStart, vEnd - vStart,
              s"slice $idx values")
            val raw = ReferenceFl.decompress(ReferenceFl.FlCompressed(outLen, bits, values))
            writeFile(tconf, f"$partsDir/raw-$idx%05d", raw)
            (idx, raw.length.toLong)
          }
          .collect()
          .sortBy(_._1)

        concatParts(conf, out, Array.emptyByteArray,
          meta.map(m => (f"$partsDir/raw-${m._1}%05d", m._2)))
        meta.map(_._2).sum
      } finally rmrf(conf, partsDir)
    require(total == inputSize, s"decoded $total bytes, header says $inputSize")
    total
  }

  private def fs(conf: Configuration, path: String): FileSystem =
    new Path(path).getFileSystem(conf)

  /** Ordered stream-concat of part files into `out` after an optional
    * header; driver memory bounded by the stream buffer. Each part's size
    * is checked against the size its task reported — fail fast if they
    * disagree (interleaved writes, zombie attempt). */
  private def concatParts(conf: Configuration, out: String, header: Array[Byte],
                          parts: Seq[(String, Long)]): Unit = {
    val os = new java.io.BufferedOutputStream(
      fs(conf, out).create(new Path(out), true), 1 << 20)
    try {
      os.write(header)
      val buf = new Array[Byte](1 << 20)
      parts.foreach { case (part, want) =>
        val p = new Path(part)
        val f = fs(conf, part)
        val got = f.getFileStatus(p).getLen
        require(got == want,
          s"$part is $got bytes, task reported $want — corrupt part")
        val is = f.open(p)
        // count what was ACTUALLY copied: the stat above races a zombie
        // speculative attempt re-creating the part (create overwrite=true
        // truncates), and a read-to-EOF loop would silently ship a short
        // part into the middle of the output
        var copied = 0L
        try {
          var n = is.read(buf)
          while (n >= 0) {
            os.write(buf, 0, n)
            copied += n
            n = is.read(buf)
          }
        } finally is.close()
        require(copied == want,
          s"$part yielded $copied bytes mid-copy, task reported $want — " +
            "part rewritten while concatenating (zombie attempt?)")
      }
    } finally os.close()
  }

  /** Read exactly `len` bytes at `start` of `path`: ONE positioned read
    * against the Hadoop FileSystem (a single ranged GET on an object
    * store; a pread on a local/HDFS file). */
  private def readRange(conf: Configuration, path: String, start: Long, len: Long,
                        what: String): Array[Byte] = {
    require(len <= Int.MaxValue, s"$what is $len bytes; slicing must keep reads under 2 GiB")
    val in = fs(conf, path).open(new Path(path))
    try {
      val b = new Array[Byte](len.toInt)
      in.readFully(start, b, 0, len.toInt)
      b
    } finally in.close()
  }

  private def writeFile(conf: Configuration, path: String, bytes: Array[Byte]): Unit = {
    val os = fs(conf, path).create(new Path(path), true)
    try os.write(bytes) finally os.close()
  }

  private def rmrf(conf: Configuration, path: String): Unit = {
    val f = fs(conf, path)
    val p = new Path(path)
    if (f.exists(p)) f.delete(p, true)
  }
}
