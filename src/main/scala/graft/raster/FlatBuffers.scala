package graft.raster

import java.nio.{ByteBuffer, ByteOrder}

/** Minimal FlatBuffers wire-format builder + reader — just enough of the
  * public spec (google.github.io/flatbuffers/flatbuffers_internals.html)
  * to emit and parse FlatGeobuf headers/features (see [[FlatGeobuf]]):
  * little-endian scalars, back-to-front construction, tables with vtables
  * (uint16 vtable_bytes, uint16 table_bytes, uint16 field offsets),
  * uoffset32 references, length-prefixed vectors, nul-terminated strings.
  *
  * Offsets are tracked as DISTANCE FROM BUFFER END (the standard builder
  * trick): address = bufferLength − offset, so growing at the front never
  * invalidates anything already written. Alignment therefore also works in
  * offset space, provided the finished buffer's total length is padded to
  * the largest alignment seen (`finish` does).
  */
final class FbBuilder(initialSize: Int = 1024) {
  private var buf = new Array[Byte](math.max(initialSize, 64))
  private var used = 0 // bytes written at the END of buf
  private var minalign = 4
  // in-flight table state
  private var vtable: Array[Int] = null // per-field offsets-from-end (0 = absent)
  private var tableStart = 0

  private def offset: Int = used

  private def grow(need: Int): Unit = {
    if (used + need > buf.length) {
      var cap = buf.length
      while (cap < used + need) cap *= 2
      val nb = new Array[Byte](cap)
      System.arraycopy(buf, buf.length - used, nb, nb.length - used, used)
      buf = nb
    }
  }

  private def pushRaw(bytes: Int)(write: (ByteBuffer, Int) => Unit): Unit = {
    grow(bytes)
    used += bytes
    val bb = ByteBuffer.wrap(buf).order(ByteOrder.LITTLE_ENDIAN)
    write(bb, buf.length - used)
  }

  /** Pad so the next `size`-aligned value, written after `additional`
    * bytes, lands aligned (alignment holds in distance-from-end space). */
  private def prep(size: Int, additional: Int): Unit = {
    if (size > minalign) minalign = size
    val pad = ((~(used + additional)) + 1) & (size - 1)
    if (pad > 0) pushRaw(pad)((_, _) => ())
  }

  def pushByte(v: Byte): Unit = { prep(1, 0); pushRaw(1)((bb, p) => bb.put(p, v)) }
  def pushShort(v: Short): Unit = { prep(2, 0); pushRaw(2)((bb, p) => bb.putShort(p, v)) }
  def pushInt(v: Int): Unit = { prep(4, 0); pushRaw(4)((bb, p) => bb.putInt(p, v)) }
  def pushLong(v: Long): Unit = { prep(8, 0); pushRaw(8)((bb, p) => bb.putLong(p, v)) }

  /** uoffset32 reference to something already built at `target`. */
  private def pushRef(target: Int): Unit = {
    prep(4, 0)
    require(target <= used, "reference to unwritten data")
    pushRaw(4)((bb, p) => bb.putInt(p, used - target)) // used already includes these 4
  }

  // NOTE on the create* methods: the [pad][prefix][elements] block must be
  // CONTIGUOUS (readers index elements at prefix+4), so all padding is
  // prepped up front — never between prefix and data — and sized so the
  // first element lands on its natural alignment.

  def createString(s: String): Int = {
    val bytes = s.getBytes("UTF-8")
    prep(4, bytes.length + 1 + 4) // prefix 4-aligned, chars at prefix+4
    pushRaw(1)((bb, p) => bb.put(p, 0: Byte)) // nul terminator
    pushRaw(bytes.length) { (bb, p) =>
      var i = 0; while (i < bytes.length) { bb.put(p + i, bytes(i)); i += 1 }
    }
    pushRaw(4)((bb, p) => bb.putInt(p, bytes.length))
    offset
  }

  def createByteVector(v: Array[Byte]): Int = {
    prep(4, v.length + 4)
    pushRaw(v.length) { (bb, p) =>
      var i = 0; while (i < v.length) { bb.put(p + i, v(i)); i += 1 }
    }
    pushRaw(4)((bb, p) => bb.putInt(p, v.length))
    offset
  }

  def createIntVector(v: Array[Int]): Int = {
    prep(4, v.length * 4)
    pushRaw(v.length * 4) { (bb, p) =>
      var i = 0; while (i < v.length) { bb.putInt(p + i * 4, v(i)); i += 1 }
    }
    pushRaw(4)((bb, p) => bb.putInt(p, v.length))
    offset
  }

  def createDoubleVector(v: Array[Double]): Int = {
    prep(4, v.length * 8 + 4)
    prep(8, v.length * 8) // elem 0 lands 8-aligned; prefix at elem0−4
    pushRaw(v.length * 8) { (bb, p) =>
      var i = 0; while (i < v.length) { bb.putDouble(p + i * 8, v(i)); i += 1 }
    }
    pushRaw(4)((bb, p) => bb.putInt(p, v.length))
    offset
  }

  def createOffsetVector(offs: Array[Int]): Int = {
    prep(4, offs.length * 4)
    // refs must be written one by one (each value depends on its position)
    var i = offs.length - 1
    while (i >= 0) { pushRef(offs(i)); i -= 1 }
    pushRaw(4)((bb, p) => bb.putInt(p, offs.length))
    offset
  }

  def startTable(numFields: Int): Unit = {
    require(vtable == null, "nested table")
    vtable = new Array[Int](numFields)
    tableStart = offset
  }

  def addByteField(field: Int, v: Byte, default: Byte): Unit =
    if (v != default) { pushByte(v); vtable(field) = offset }
  def addShortField(field: Int, v: Short, default: Short): Unit =
    if (v != default) { pushShort(v); vtable(field) = offset }
  def addIntField(field: Int, v: Int, default: Int): Unit =
    if (v != default) { pushInt(v); vtable(field) = offset }
  def addLongField(field: Int, v: Long, default: Long): Unit =
    if (v != default) { pushLong(v); vtable(field) = offset }
  def addOffsetField(field: Int, target: Int): Unit =
    if (target != 0) { pushRef(target); vtable(field) = offset }

  def endTable(): Int = {
    require(vtable != null, "endTable without startTable")
    prep(4, 0)
    pushRaw(4)((_, _) => ()) // soffset placeholder
    val tableOff = offset
    val tableBytes = tableOff - tableStart
    // trim trailing absent fields, then write vtable entries in reverse
    var n = vtable.length
    while (n > 0 && vtable(n - 1) == 0) n -= 1
    var i = n - 1
    while (i >= 0) {
      val rel = if (vtable(i) == 0) 0 else tableOff - vtable(i)
      pushShort(rel.toShort)
      i -= 1
    }
    pushShort(tableBytes.toShort)
    pushShort((4 + 2 * n).toShort)
    val vtOff = offset
    // patch the soffset: vtable_addr = table_addr − soffset ⇒ soffset =
    // vtOff − tableOff in offset-from-end space
    ByteBuffer.wrap(buf).order(ByteOrder.LITTLE_ENDIAN)
      .putInt(buf.length - tableOff, vtOff - tableOff)
    vtable = null
    tableOff
  }

  /** Root reference + front padding so the finished slice keeps every
    * value aligned (slice length ≡ 0 mod minalign). */
  def finish(root: Int): Array[Byte] = {
    prep(minalign, 4)
    pushRef(root)
    val out = new Array[Byte](used)
    System.arraycopy(buf, buf.length - used, out, 0, used)
    out
  }
}

/** Matching minimal reader: enough accessor surface to walk tables,
  * vectors, and strings of a finished buffer (used by the FlatGeobuf scan
  * and the round-trip specs). Positions are absolute buffer indices. */
final class FbReader(bytes: Array[Byte], base: Int = 0) {
  private val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)

  def rootTable: Int = base + bb.getInt(base)

  /** Absolute position of `field` in the table at `tab`, or −1 if absent. */
  def fieldPos(tab: Int, field: Int): Int = {
    val vt = tab - bb.getInt(tab)
    val vtSize = bb.getShort(vt) & 0xFFFF
    val slot = 4 + 2 * field
    if (slot >= vtSize) -1
    else {
      val rel = bb.getShort(vt + slot) & 0xFFFF
      if (rel == 0) -1 else tab + rel
    }
  }

  def byteField(tab: Int, field: Int, default: Byte): Byte =
    { val p = fieldPos(tab, field); if (p < 0) default else bb.get(p) }
  def shortField(tab: Int, field: Int, default: Short): Short =
    { val p = fieldPos(tab, field); if (p < 0) default else bb.getShort(p) }
  def intField(tab: Int, field: Int, default: Int): Int =
    { val p = fieldPos(tab, field); if (p < 0) default else bb.getInt(p) }
  def longField(tab: Int, field: Int, default: Long): Long =
    { val p = fieldPos(tab, field); if (p < 0) default else bb.getLong(p) }

  /** Absolute position of the referenced object, or −1. */
  def refField(tab: Int, field: Int): Int =
    { val p = fieldPos(tab, field); if (p < 0) -1 else p + bb.getInt(p) }

  def vectorLen(vec: Int): Int = bb.getInt(vec)
  def vectorElems(vec: Int): Int = vec + 4

  def stringAt(pos: Int): String = {
    val len = bb.getInt(pos)
    new String(bytes, pos + 4, len, "UTF-8")
  }

  def doubleVector(vec: Int): Array[Double] = {
    val n = vectorLen(vec)
    Array.tabulate(n)(i => bb.getDouble(vec + 4 + i * 8))
  }

  def byteVector(vec: Int): Array[Byte] = {
    val n = vectorLen(vec)
    val out = new Array[Byte](n)
    System.arraycopy(bytes, vec + 4, out, 0, n)
    out
  }

  /** Element `i` of a vector of table/string references. */
  def refElem(vec: Int, i: Int): Int = {
    val p = vec + 4 + i * 4
    p + bb.getInt(p)
  }
}
