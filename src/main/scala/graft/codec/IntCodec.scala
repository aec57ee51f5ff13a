package graft.codec

import BitIO._

/** A lightweight compression codec for int32 column chunks.
  *
  * Every encoded buffer is self-describing: byte 0 is the codec id,
  * so `IntCodec.decode` dispatches without out-of-band metadata —
  * the same tagged-container idea as the reference's chunk payload
  * format (reference: schema/encoder.go:200-222, uvarint(encoding)
  * prefix), re-designed for int32 token streams.
  *
  * All arithmetic is integer-only and wraps mod 2^32 where needed, so
  * round-trips are bit-identical for the full Int range including
  * Int.MinValue / Int.MaxValue (SURVEY.md §7.5 bit-exactness).
  */
sealed trait IntCodec {
  def id: Byte
  def name: String
  /** Encode a[from, from+n) into out (appends; writes id byte first). */
  def encode(a: Array[Int], from: Int, n: Int, out: ByteSink): Unit
  final def encode(a: Array[Int]): Array[Byte] = {
    val out = new ByteSink(a.length + 16)
    encode(a, 0, a.length, out)
    out.result()
  }
}

object IntCodec {
  case object Plain extends IntCodec {
    val id: Byte = 0; val name = "plain"
    def encode(a: Array[Int], from: Int, n: Int, out: ByteSink): Unit = {
      out.addByte(id); writeUvarint(out, n)
      var i = 0
      while (i < n) { out.addIntLE(a(from + i)); i += 1 }
    }
  }

  /** ZigZag + fixed-width bit-packing (handles negatives). */
  case object BitPack extends IntCodec {
    val id: Byte = 1; val name = "bitpack"
    def encode(a: Array[Int], from: Int, n: Int, out: ByteSink): Unit = {
      out.addByte(id); writeUvarint(out, n)
      if (n == 0) return
      var maxZ = 0L
      var i = 0
      while (i < n) {
        val z = zigzag(a(from + i)) & 0xffffffffL
        if (z > maxZ) maxZ = z
        i += 1
      }
      val width = bitsLong(maxZ)
      out.addByte(width.toByte)
      packBitsZigzag(a, from, n, width, out)
    }
  }

  /** Frame-of-reference: subtract min, bit-pack the non-negative offsets. */
  case object For extends IntCodec {
    val id: Byte = 2; val name = "for"
    def encode(a: Array[Int], from: Int, n: Int, out: ByteSink): Unit = {
      out.addByte(id); writeUvarint(out, n)
      if (n == 0) return
      var mn = a(from); var mx = a(from)
      var i = 1
      while (i < n) {
        val v = a(from + i)
        if (v < mn) mn = v
        if (v > mx) mx = v
        i += 1
      }
      writeUvarint(out, zigzag(mn))
      val width = bitsLong(mx.toLong - mn.toLong)
      out.addByte(width.toByte)
      packBitsOffset(a, from, n, width, mn, out) // (v - mn) wraps mod 2^32: ok
    }
  }

  /** Delta (frame-of-reference on successive differences) + zigzag +
    * bit-pack. Best for sorted / near-arithmetic sequences.
    */
  case object ForDelta extends IntCodec {
    val id: Byte = 3; val name = "fordelta"
    def encode(a: Array[Int], from: Int, n: Int, out: ByteSink): Unit = {
      out.addByte(id); writeUvarint(out, n)
      if (n == 0) return
      writeUvarint(out, zigzag(a(from)))
      if (n == 1) return
      var maxZ = 0L
      var i = 1
      while (i < n) {
        val d = a(from + i) - a(from + i - 1) // int wrap: exact mod 2^32
        val zu = zigzag(d) & 0xffffffffL
        if (zu > maxZ) maxZ = zu
        i += 1
      }
      val width = bitsLong(maxZ)
      out.addByte(width.toByte)
      packBitsDeltaZigzag(a, from, n, width, out)
    }
  }

  /** Frame-of-reference with the pack width rounded UP to a whole number
    * of bytes (8/16/24/32). Pays up to 7 bits/value vs [[For]] but keeps
    * every value byte-aligned, which preserves the byte-level repetition
    * a downstream zstd pass exploits — on text-like token streams
    * zstd(for8) ≈ zstd(original text) while zstd(tight bitpack) is near
    * incompressible. Only ever chosen by the zstd-aware trial.
    */
  case object ForAligned extends IntCodec {
    val id: Byte = 6; val name = "for8"
    def encode(a: Array[Int], from: Int, n: Int, out: ByteSink): Unit = {
      out.addByte(id); writeUvarint(out, n)
      if (n == 0) return
      var mn = a(from); var mx = a(from)
      var i = 1
      while (i < n) {
        val v = a(from + i)
        if (v < mn) mn = v
        if (v > mx) mx = v
        i += 1
      }
      writeUvarint(out, zigzag(mn))
      val width = (bitsLong(mx.toLong - mn.toLong) + 7) / 8 * 8
      out.addByte(width.toByte)
      packBitsOffset(a, from, n, width, mn, out)
    }
  }

  /** Frame-of-reference with byte-plane decomposition: offsets are
    * stored as w whole-byte planes (all byte-0s, then all byte-1s, ...)
    * instead of interleaved — the BYTE_STREAM_SPLIT idea applied to
    * FoR offsets. Pre-zstd it costs the same as [[ForAligned]]; post-
    * zstd it usually wins on skewed (Zipf-like) token streams because
    * the high-byte plane is near-constant and the low-byte plane keeps
    * its local repetition undiluted. Only ever chosen by the zstd-aware
    * trial.
    */
  case object ForSplit extends IntCodec {
    val id: Byte = 7; val name = "forsplit"
    def encode(a: Array[Int], from: Int, n: Int, out: ByteSink): Unit = {
      out.addByte(id); writeUvarint(out, n)
      if (n == 0) return
      var mn = a(from); var mx = a(from)
      var i = 1
      while (i < n) {
        val v = a(from + i)
        if (v < mn) mn = v
        if (v > mx) mx = v
        i += 1
      }
      writeUvarint(out, zigzag(mn))
      val w = (bitsLong(mx.toLong - mn.toLong) + 7) / 8
      out.addByte(w.toByte)
      out.ensure(w * n + 8)
      var plane = 0
      while (plane < w) {
        val shift = plane * 8
        i = 0
        while (i < n) {
          out.addByte(((a(from + i) - mn) >>> shift).toByte)
          i += 1
        }
        plane += 1
      }
    }
  }

  /** Run-length encoding: (zigzag-varint value, uvarint run length)*. */
  case object Rle extends IntCodec {
    val id: Byte = 4; val name = "rle"
    def encode(a: Array[Int], from: Int, n: Int, out: ByteSink): Unit = {
      out.addByte(id); writeUvarint(out, n)
      var i = 0
      while (i < n) {
        val v = a(from + i)
        var j = i + 1
        while (j < n && a(from + j) == v) j += 1
        writeUvarint(out, zigzag(v))
        writeUvarint(out, j - i)
        i = j
      }
    }
  }

  /** Dictionary: sorted distinct values (delta-varint coded) + bit-packed
    * codes. The read side gets O(1) distinct-values from the dictionary —
    * the trick the reference exploits via Parquet dictionary pages
    * (reference: search/materialize.go:358-380).
    */
  case object Dict extends IntCodec {
    val id: Byte = 5; val name = "dict"
    def encode(a: Array[Int], from: Int, n: Int, out: ByteSink): Unit = {
      out.addByte(id); writeUvarint(out, n)
      if (n == 0) return
      val sorted = new Array[Int](n)
      System.arraycopy(a, from, sorted, 0, n)
      java.util.Arrays.sort(sorted)
      var distinct = 1
      var i = 1
      while (i < n) {
        if (sorted(i) != sorted(i - 1)) { sorted(distinct) = sorted(i); distinct += 1 }
        i += 1
      }
      writeUvarint(out, distinct)
      writeUvarint(out, zigzag(sorted(0)))
      i = 1
      while (i < distinct) {
        writeUvarintLong(out, sorted(i).toLong - sorted(i - 1).toLong)
        i += 1
      }
      val width = bits(distinct - 1)
      out.addByte(width.toByte)
      // pack codes inline: binary search per value, no codes array
      out.ensure(BitIO.packedBytes(n, width) + 8)
      if (width > 0) {
        var acc = 0L
        var accBits = 0
        val mask = (1L << width) - 1
        i = 0
        while (i < n) {
          var lo = 0; var hi = distinct - 1
          val v = a(from + i)
          while (lo < hi) {
            val mid = (lo + hi) >>> 1
            if (sorted(mid) < v) lo = mid + 1 else hi = mid
          }
          acc |= (lo & mask) << accBits
          accBits += width
          while (accBits >= 8) {
            out.addByte((acc & 0xff).toByte)
            acc >>>= 8
            accBits -= 8
          }
          i += 1
        }
        if (accBits > 0) out.addByte((acc & 0xff).toByte)
      }
    }
  }

  val all: Seq[IntCodec] = Seq(Plain, BitPack, For, ForDelta, Rle, Dict, ForAligned, ForSplit)
  private val byId: Array[IntCodec] = {
    val arr = new Array[IntCodec](all.map(_.id.toInt).max + 1)
    all.foreach(c => arr(c.id) = c)
    arr
  }
  def forId(id: Byte): IntCodec = byId(id)
  def forName(name: String): IntCodec = all.find(_.name == name).get

  /** O(distinct) read of the sorted dictionary values of a Dict-coded
    * buffer, WITHOUT unpacking the per-value codes — the analog of the
    * reference's dictionary-page-only distinct materialization
    * (reference: search/materialize.go:358-380: read the dict page,
    * never the rows). None when the buffer used a different codec.
    */
  def dictValues(buf: Array[Byte]): Option[Array[Int]] = {
    val r = new Reader(buf, 0)
    if (r.readByte() != Dict.id) None
    else {
      val n = r.readUvarint()
      if (n == 0) Some(Array.empty[Int])
      else {
        val distinct = r.readUvarint()
        val dict = new Array[Int](distinct)
        dict(0) = unzigzag(r.readUvarint())
        var i = 1
        while (i < distinct) {
          dict(i) = (dict(i - 1).toLong + r.readUvarintLong()).toInt
          i += 1
        }
        Some(dict)
      }
    }
  }

  /** Decode only values [start, start+len) of a self-describing buffer,
    * materializing O(len) ints instead of O(n) — the within-chunk analog
    * of the reference's page-grain row-range materialization
    * (reference: search/constraint.go:520-595 binary search +
    * search/iterators.go:359-494 RowRangesValueIterator): a point lookup
    * should decode one doc's slice, not the whole ~4M-token chunk.
    *
    * Offset-addressable codecs (plain, bitpack, for, for8, forsplit,
    * dict) jump straight to the slice's bits/bytes — values outside the
    * slice are never read (see the corruption-outside-slice unit test).
    * RLE walks its runs (O(runs) work, still O(len) materialized).
    * ForDelta needs the running prefix, so it decodes deltas from the
    * front — but only up to the slice's END: O(start+len) work, and
    * bytes after the slice's last delta are never read (early exit).
    */
  def decodeRange(buf: Array[Byte], start: Int, len: Int): Array[Int] = {
    val r = new Reader(buf, 0)
    val id = r.readByte()
    val n = r.readUvarint()
    require(start >= 0 && len >= 0 && start + len <= n,
      s"range [$start, ${start + len}) out of bounds for $n values")
    val dst = new Array[Int](len)
    if (len == 0) return dst
    id match {
      case 0 => // plain: fixed 4 bytes per value
        val b = r.buf
        var p = r.pos + 4 * start
        var i = 0
        while (i < len) {
          dst(i) = (b(p) & 0xff) | ((b(p + 1) & 0xff) << 8) |
            ((b(p + 2) & 0xff) << 16) | ((b(p + 3) & 0xff) << 24)
          p += 4; i += 1
        }
      case 1 => // bitpack: value i starts at bit i*width
        val width = r.readByte() & 0xff
        unpackBitsRange(r.buf, r.pos, width, start, len, dst)
        var i = 0
        while (i < len) { dst(i) = unzigzag(dst(i)); i += 1 }
      case 2 | 6 => // for / for8
        val mn = unzigzag(r.readUvarint())
        val width = r.readByte() & 0xff
        unpackBitsRange(r.buf, r.pos, width, start, len, dst)
        var i = 0
        while (i < len) { dst(i) += mn; i += 1 }
      case 7 => // forsplit: value i's plane-p byte is at p0 + p*n + i
        val mn = unzigzag(r.readUvarint())
        val w = r.readByte() & 0xff
        val b = r.buf
        val p0 = r.pos
        var plane = 0
        while (plane < w) {
          val shift = plane * 8
          val pp = p0 + plane * n + start
          var i = 0
          while (i < len) { dst(i) |= (b(pp + i) & 0xff) << shift; i += 1 }
          plane += 1
        }
        var i = 0
        while (i < len) { dst(i) += mn; i += 1 }
      case 5 => // dict: O(distinct) header + the slice's packed codes
        val distinct = r.readUvarint()
        val dict = new Array[Int](distinct)
        dict(0) = unzigzag(r.readUvarint())
        var i = 1
        while (i < distinct) {
          dict(i) = (dict(i - 1).toLong + r.readUvarintLong()).toInt
          i += 1
        }
        val width = r.readByte() & 0xff
        unpackBitsRange(r.buf, r.pos, width, start, len, dst)
        i = 0
        while (i < len) { dst(i) = dict(dst(i)); i += 1 }
      case 4 => // rle: skip runs before the slice — O(runs), not O(n)
        var seen = 0
        var i = 0
        while (i < len) {
          val v = unzigzag(r.readUvarint())
          val run = r.readUvarint()
          val runEnd = seen + run
          if (runEnd > start) {
            val fillFrom = math.max(seen, start) - start
            val fillTo = math.min(runEnd, start + len) - start
            java.util.Arrays.fill(dst, fillFrom, fillTo, v)
            i = fillTo
          }
          seen = runEnd
        }
      case 3 => // fordelta: prefix-dependent — decode deltas [1, end)
        // only. The prefix before `start` must be summed regardless,
        // but nothing past the slice's end is unpacked or even read.
        var prev = unzigzag(r.readUvarint()) // value 0
        if (start == 0) dst(0) = prev
        val end = start + len
        if (n > 1 && end > 1) {
          val width = r.readByte() & 0xff
          val deltas = new Array[Int](end - 1)
          unpackBitsRange(r.buf, r.pos, width, 0, end - 1, deltas)
          var i = 1
          while (i < end) {
            prev += unzigzag(deltas(i - 1))
            if (i >= start) dst(i - start) = prev
            i += 1
          }
        }
      case other => throw new IllegalArgumentException(s"unknown codec id $other")
    }
    dst
  }

  /** Unpack values [start, start+len) of a fixed-width bit-packed run
    * beginning at basePos: seeks to bit start*width and reads only the
    * slice's bytes.
    */
  private def unpackBitsRange(buf: Array[Byte], basePos: Int, width: Int,
                              start: Int, len: Int, dst: Array[Int]): Unit = {
    if (width == 0) { java.util.Arrays.fill(dst, 0, len, 0); return }
    val startBit = start.toLong * width
    var pos = basePos + (startBit >>> 3).toInt
    var acc = 0L
    var accBits = 0
    val skip = (startBit & 7L).toInt
    if (skip > 0) {
      acc = (buf(pos) & 0xffL) >>> skip
      accBits = 8 - skip
      pos += 1
    }
    val mask = if (width == 32) 0xffffffffL else (1L << width) - 1
    var i = 0
    while (i < len) {
      while (accBits < width) {
        acc |= (buf(pos) & 0xffL) << accBits
        pos += 1
        accBits += 8
      }
      dst(i) = (acc & mask).toInt
      acc >>>= width
      accBits -= width
      i += 1
    }
  }

  /** Decode a self-describing buffer produced by any IntCodec.
    * Throws [[CorruptChunk]] when a fixed-width codec's header promises
    * more values than the buffer holds, or an RLE run overruns the
    * value count.
    */
  def decode(buf: Array[Byte]): Array[Int] = decode(new Reader(buf, 0))

  /** Throws [[CorruptChunk]] unless `bytes` remain after the reader's
    * position: a header count is checked before it sizes an array.
    */
  private def need(r: Reader, bytes: Long, what: => String): Unit = {
    val left = r.buf.length - r.pos
    if (bytes > left) throw new CorruptChunk(s"$what needs $bytes bytes, $left remain")
  }

  /** The pack width in the next header byte, checked to be at most 32
    * and to leave room for `n` packed values.
    */
  private def packWidth(r: Reader, n: Int): Int = {
    val width = r.readByte() & 0xff
    if (width > 32) throw new CorruptChunk(s"pack width $width exceeds 32")
    need(r, (n.toLong * width + 7) / 8, s"$n values at width $width")
    width
  }

  private def rleOverrun(run: Int, at: Int, n: Int): Nothing =
    throw new CorruptChunk(s"rle run of ${run & 0xffffffffL} at value $at overruns $n values")

  def decode(r: Reader): Array[Int] = {
    val id = r.readByte()
    val n = r.readUvarint()
    if (n < 0) throw new CorruptChunk(s"value count $n is negative")
    // every known codec writes nothing after a zero count
    if (n == 0 && id >= 0 && id < byId.length) return Array.emptyIntArray
    id match {
      case 0 => // plain
        need(r, 4L * n, s"$n plain values")
        val dst = new Array[Int](n)
        var i = 0
        val b = r.buf
        var p = r.pos
        while (i < n) {
          dst(i) = (b(p) & 0xff) | ((b(p + 1) & 0xff) << 8) |
            ((b(p + 2) & 0xff) << 16) | ((b(p + 3) & 0xff) << 24)
          p += 4; i += 1
        }
        r.pos = p
        dst
      case 1 => // bitpack
        val width = packWidth(r, n)
        val dst = new Array[Int](n)
        r.pos = unpackBits(r.buf, r.pos, n, width, dst, 0)
        var i = 0
        while (i < n) { dst(i) = unzigzag(dst(i)); i += 1 }
        dst
      case 2 | 6 => // for / for8 (same layout, different width choice)
        val mn = unzigzag(r.readUvarint())
        val width = packWidth(r, n)
        val dst = new Array[Int](n)
        r.pos = unpackBits(r.buf, r.pos, n, width, dst, 0)
        var i = 0
        while (i < n) { dst(i) = dst(i) + mn; i += 1 }
        dst
      case 3 => // fordelta
        var prev = unzigzag(r.readUvarint())
        if (n == 1) Array(prev)
        else {
          val width = packWidth(r, n - 1)
          val dst = new Array[Int](n)
          dst(0) = prev
          r.pos = unpackBits(r.buf, r.pos, n - 1, width, dst, 1)
          var i = 1
          while (i < n) { prev += unzigzag(dst(i)); dst(i) = prev; i += 1 }
          dst
        }
      case 4 => // rle
        val dst = new Array[Int](n)
        var i = 0
        while (i < n) {
          val v = unzigzag(r.readUvarint())
          val run = r.readUvarint()
          if (Integer.compareUnsigned(run, n - i) > 0) rleOverrun(run, i, n)
          java.util.Arrays.fill(dst, i, i + run, v)
          i += run
        }
        dst
      case 7 => // forsplit
        val mn = unzigzag(r.readUvarint())
        val w = r.readByte() & 0xff
        if (w > 4) throw new CorruptChunk(s"forsplit width $w exceeds 4 bytes")
        need(r, w.toLong * n, s"$n forsplit values of $w bytes")
        val dst = new Array[Int](n)
        val b = r.buf
        val p0 = r.pos
        var plane = 0
        while (plane < w) {
          val shift = plane * 8
          val pp = p0 + plane * n
          var i = 0
          while (i < n) { dst(i) |= (b(pp + i) & 0xff) << shift; i += 1 }
          plane += 1
        }
        var i = 0
        while (i < n) { dst(i) += mn; i += 1 }
        r.pos = p0 + w * n
        dst
      case 5 => // dict
        val distinct = r.readUvarint()
        val dict = new Array[Int](distinct)
        dict(0) = unzigzag(r.readUvarint())
        var i = 1
        while (i < distinct) {
          dict(i) = (dict(i - 1).toLong + r.readUvarintLong()).toInt
          i += 1
        }
        val width = packWidth(r, n)
        val dst = new Array[Int](n)
        r.pos = unpackBits(r.buf, r.pos, n, width, dst, 0)
        i = 0
        while (i < n) { dst(i) = dict(dst(i)); i += 1 }
        dst
      case other => throw new IllegalArgumentException(s"unknown codec id $other")
    }
  }
}
