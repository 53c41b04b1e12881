package graft.zarr

import java.io.IOException
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{FileVisitOption, FileVisitResult, Files, NoSuchFileException, Path, Paths, SimpleFileVisitor}
import java.nio.file.attribute.BasicFileAttributes
import graft.model.{GridDef, Json}
import ChunkStoreSource.Key

/** One listed chunk file: its key (a shard's coordinates in a sharded
  * store), path and size in bytes. */
final case class ChunkFile(key: Key, path: String, size: Long)

/** How a chunk store puts its chunks on disk — the one place that decides
  * which file a chunk key lives in and how a chunk's floats become bytes.
  * Writers (ChunkWriter, ZarrStoreV3.writeSharded), the listing and the
  * DSv2 reader all go through this value, so the layouts cannot drift
  * between the write and read paths.
  *
  *  - [[ChunkFormat.Raw]]: `<root>/c/<t>.<b>.<cy>.<cx>`, little-endian
  *    float32, unpadded, uncompressed (ArrayStore);
  *  - [[ChunkFormat.V2]]: `<var>/<t>.<b>.<cy>.<cx>`, NaN-padded to the
  *    chunk shape, C-order LE float32, zlib (ZarrStore);
  *  - [[ChunkFormat.V3]]: `<var>/c/<t>/<b>/<cy>/<cx>`, NaN-padded, optional
  *    x-major `transpose`, LE float32, gzip; with shard factors the files
  *    are `sharding_indexed` shards whose trailing index locates each inner
  *    chunk (ZarrStoreV3).
  *
  * Serializable: input partitions carry it to the executors. */
sealed trait ChunkFormat extends Serializable {
  import ChunkFormat._

  /** The directory chunk keys are encoded under. */
  def dir: String

  /** The logical (inner-chunk) grid. */
  def grid: GridDef

  /** Chunks per file along (y, x) when files are shards. */
  def shard: Option[(Int, Int)]

  private def nestedKeys: Boolean = this.isInstanceOf[V3]

  def path(k: Key): Path =
    if (nestedKeys)
      Paths.get(dir, k.time.toString, k.band.toString, k.cy.toString, k.cx.toString)
    else Paths.get(dir, s"${k.time}.${k.band}.${k.cy}.${k.cx}")

  /** The key of a path relative to [[dir]]; None for anything that is not
    * a chunk (metadata, temp files, stray entries at any depth). */
  private def key(rel: Path): Option[Key] = {
    val parts =
      if (nestedKeys) Array.tabulate(rel.getNameCount)(rel.getName(_).toString)
      else rel.toString.split('.')
    parts match {
      case Array(t, b, cy, cx) =>
        for (ti <- t.toIntOption; bi <- b.toIntOption;
             yi <- cy.toIntOption; xi <- cx.toIntOption) yield Key(ti, bi, yi, xi)
      case _ => None
    }
  }

  /** Every chunk file in the store, with its size, in one directory walk. */
  def list(): Seq[ChunkFile] = {
    val root = Paths.get(dir)
    if (!Files.isDirectory(root)) return Seq.empty
    val out = Vector.newBuilder[ChunkFile]
    Files.walkFileTree(root, java.util.EnumSet.of(FileVisitOption.FOLLOW_LINKS),
      if (nestedKeys) 4 else 1, new SimpleFileVisitor[Path] {
        override def visitFile(p: Path, a: BasicFileAttributes): FileVisitResult = {
          if (a.isRegularFile)
            key(root.relativize(p)).foreach(k => out += ChunkFile(k, p.toString, a.size))
          FileVisitResult.CONTINUE
        }
        // a writer's temp file renamed away mid-walk was never a chunk
        override def visitFileFailed(p: Path, e: IOException): FileVisitResult =
          e match {
            case _: NoSuchFileException => FileVisitResult.CONTINUE
            case _ => throw e
          }
      })
    out.result()
  }

  /** The chunk keys a file holds: the file's own key, or each inner slot
    * of a shard in index order (iy-major). */
  def innerKeys(k: Key): Iterator[Key] = shard match {
    case None => Iterator.single(k)
    case Some((sy, sx)) =>
      for (iy <- Iterator.range(0, sy); ix <- Iterator.range(0, sx))
        yield Key(k.time, k.band, k.cy * sy + iy, k.cx * sx + ix)
  }

  /** Chunk slots per listed file. */
  def chunksPerFile: Int = shard.fold(1) { case (sy, sx) => sy * sx }

  /** Decoded payload bytes of the chunks in one listed file. */
  def decodedBytes(f: ChunkFile): Long = this match {
    case Raw(_) => f.size
    case _ => chunksPerFile.toLong * grid.chunkY * grid.chunkX * 4
  }

  /** One chunk's stored bytes. */
  def encode(data: Array[Float]): Array[Byte] = this match {
    case Raw(_)               => le(data)
    case V2(_, g)             => deflate(le(pad(data, g)))
    case V3(_, g, _, xMajor) =>
      val padded = pad(data, g)
      gzip(le(if (xMajor) transposed(padded, g.chunkY, g.chunkX) else padded))
  }

  /** One chunk's floats from `len` stored bytes at `from`. The decoded
    * length must be exactly the chunk size; anything else — a truncated
    * file, trailing bytes, a payload that inflates past the chunk —
    * fails here with `what` (the chunk's path) in the message. */
  private def decode(stored: Array[Byte], from: Int, len: Int, what: String): Array[Float] =
    this match {
      case Raw(_) =>
        if (len % 4 != 0)
          throw new IOException(s"raw chunk $what: $len bytes is not a float32 array")
        floats(stored, from, len)
      case V2(_, g) =>
        val inf = new java.util.zip.Inflater()
        val src = new java.io.ByteArrayInputStream(stored, from, len)
        try floats(readExact(new java.util.zip.InflaterInputStream(src, inf),
          () => inf.getRemaining + src.available(), g, "zlib", what))
        finally inf.end()
      case V3(_, g, _, xMajor) =>
        val a = floats(readExact(new java.util.zip.GZIPInputStream(
          new java.io.ByteArrayInputStream(stored, from, len)), () => 0, g, "gzip", what))
        if (xMajor) transposed(a, g.chunkX, g.chunkY) else a
    }

  /** The chunks stored in one listed file, each with its payload decoded on
    * demand (a key-only read never decodes). A shard is read whole — its
    * index sits at the end — and its crc32c-checked index yields the
    * present inner chunks. */
  def chunks(f: ChunkFile): Iterator[(Key, () => Array[Float])] = shard match {
    case None =>
      Iterator.single(f.key -> { () =>
        val b = Files.readAllBytes(Paths.get(f.path))
        decode(b, 0, b.length, f.path)
      })
    case Some((sy, sx)) =>
      val raw = Files.readAllBytes(Paths.get(f.path))
      innerKeys(f.key).zip(shardIndex(raw, sy * sx, f.path)).zipWithIndex.collect {
        case ((k, (off, len)), i) if !(off == Absent && len == Absent) =>
          k -> (() => decode(raw, off.toInt, len.toInt, s"${f.path}[inner $i]"))
      }
  }

  /** One shard file: the inner chunks encoded in arrival order, then the
    * index — one (offset, nbytes) u64 LE pair per inner slot, both u64-max
    * for an absent chunk — then the index's crc32c as u32 LE. */
  def encodeShard(rows: Iterator[(Key, Array[Float])]): Array[Byte] = {
    val (sy, sx) = shard.getOrElse(throw new IllegalStateException(s"$dir is not sharded"))
    val nInner = sy * sx
    val bos = new java.io.ByteArrayOutputStream()
    val slots = Array.fill(nInner)(Absent -> Absent)
    rows.foreach { case (k, data) =>
      val enc = encode(data)
      slots((k.cy % sy) * sx + k.cx % sx) = bos.size().toLong -> enc.length.toLong
      bos.write(enc)
    }
    val index = ByteBuffer.allocate(nInner * 16 + 4).order(ByteOrder.LITTLE_ENDIAN)
    slots.foreach { case (off, len) => index.putLong(off); index.putLong(len) }
    val crc = new java.util.zip.CRC32C()
    crc.update(index.array(), 0, nInner * 16)
    index.putInt(crc.getValue.toInt)
    bos.write(index.array())
    bos.toByteArray
  }
}

object ChunkFormat {

  /** ArrayStore's raw layout under `<root>/c`. Its grid lives in
    * `meta.json`, read on demand: listing and decoding never need it. */
  final case class Raw(root: String) extends ChunkFormat {
    def dir: String = s"$root/c"
    def grid: GridDef = ArrayStore.readMeta(root).grid
    def shard: Option[(Int, Int)] = None
  }

  /** A Zarr v2 array in `varDir`. */
  final case class V2(varDir: String, grid: GridDef) extends ChunkFormat {
    def dir: String = varDir
    def shard: Option[(Int, Int)] = None
  }

  /** A Zarr v3 array in `varDir`: inner-chunk grid, chunks per shard when
    * sharded, and whether chunk elements are stored x-major. */
  final case class V3(varDir: String, grid: GridDef, shard: Option[(Int, Int)],
                      xMajor: Boolean) extends ChunkFormat {
    def dir: String = s"$varDir/c"
  }

  /** Detect a store's format from its metadata: `data/zarr.json` is v3,
    * `data/.zarray` is v2, anything else the raw layout. */
  def of(root: String): ChunkFormat =
    if (Files.exists(Paths.get(root, "data", "zarr.json"))) v3(root)
    else if (Files.exists(Paths.get(root, "data", ".zarray"))) v2(root)
    else Raw(root)

  private type Obj = Map[String, Any]

  /** Metadata a decoder cannot read exactly is refused when the store is
    * opened, naming the field, rather than decoded wrong chunk by chunk. */
  private def check(ok: Boolean, file: Path, field: String, v: Any,
                    readable: String): Unit =
    if (!ok) throw new IllegalArgumentException(
      s"$file: unsupported $field $v (readable: $readable)")

  private def get(o: Obj, k: String): Any = o.getOrElse(k, null)

  private def obj(v: Any): Obj = v match {
    case m: Map[_, _] => m.asInstanceOf[Obj]
    case _ => Map.empty
  }

  private def ints(file: Path, field: String, v: Any): Array[Int] = {
    val xs = v match { case xs: Vector[_] => xs; case _ => Vector.empty }
    check(xs.length == 4 && xs.forall(_.isInstanceOf[Double]), file, field, v, "4 integers")
    xs.map(_.asInstanceOf[Double].toInt).toArray
  }

  /** Chunks hold one (time, band) plane: shape [1, 1, Y, X]. */
  private def chunkShape(file: Path, field: String, v: Any): Array[Int] = {
    val c = ints(file, field, v)
    check(c(0) == 1 && c(1) == 1, file, field, v, "[1,1,Y,X]")
    c
  }

  /** Zarr v2 `.zarray` of `root/varName`. */
  def v2(root: String, varName: String = "data"): V2 = {
    val file = Paths.get(root, varName, ".zarray")
    val m = Json.parseObject(Files.readString(file))
    def expect(field: String, readable: String)(ok: Any => Boolean): Unit =
      check(ok(get(m, field)), file, field, get(m, field), readable)
    expect("zarr_format", "2")(_ == 2.0)
    expect("dtype", "<f4")(_ == "<f4")
    expect("compressor", "zlib")(obj(_).get("id").contains("zlib"))
    expect("order", "C")(_ == "C")
    expect("filters", "null")(f => f == null || f == Vector.empty)
    expect("dimension_separator", ".")(s => s == null || s == ".")
    val Array(nT, nB, nY, nX) = ints(file, "shape", get(m, "shape"))
    val c = chunkShape(file, "chunks", get(m, "chunks"))
    V2(s"$root/$varName", GridDef(nT, nB, nY, nX, c(2), c(3), itemBytes = 4))
  }

  /** Zarr v3 `zarr.json` of `root/varName`, plain or `sharding_indexed`. */
  def v3(root: String, varName: String = "data"): V3 = {
    val file = Paths.get(root, varName, "zarr.json")
    val m = Json.parseObject(Files.readString(file))
    def named(o: Obj, name: String): Boolean = o.get("name").contains(name)
    def conf(o: Obj): Obj = obj(get(o, "configuration"))
    def littleBytes(o: Obj): Boolean =
      named(o, "bytes") && conf(o).get("endian").contains("little")
    def codecs(o: Obj, k: String): Vector[Obj] = get(o, k) match {
      case xs: Vector[_] => xs.map(obj)
      case _ => Vector.empty
    }
    check(get(m, "zarr_format") == 3.0, file, "zarr_format", get(m, "zarr_format"), "3")
    check(get(m, "data_type") == "float32", file, "data_type", get(m, "data_type"), "float32")
    val keys = obj(get(m, "chunk_key_encoding"))
    check(named(keys, "default") && conf(keys).get("separator").forall(_ == "/"),
      file, "chunk_key_encoding", keys, "default with separator /")
    val Array(nT, nB, nY, nX) = ints(file, "shape", get(m, "shape"))
    val outer = chunkShape(file, "chunk_grid", get(conf(obj(get(m, "chunk_grid"))), "chunk_shape"))

    // element chain [transpose] → bytes(little) → gzip; returns whether
    // x-major. Chunks are [1,1,Y,X], so the only non-identity order that
    // keeps the t/b singleton dims in place is [0,1,3,2].
    def xMajor(chain: Vector[Obj], field: String): Boolean = {
      val (order, rest) = chain match {
        case t +: tail if named(t, "transpose") =>
          (ints(file, "transpose order", get(conf(t), "order")).toSeq, tail)
        case _ => (Seq(0, 1, 2, 3), chain)
      }
      check(order == Seq(0, 1, 2, 3) || order == Seq(0, 1, 3, 2), file,
        "transpose order", order.mkString("[", ",", "]"), "identity or x-major [0,1,3,2]")
      check(rest.length == 2 && littleBytes(rest(0)) && named(rest(1), "gzip"),
        file, field, chain, "[transpose] → bytes(little) → gzip")
      order == Seq(0, 1, 3, 2)
    }

    val (inner, shard, transposed) = codecs(m, "codecs") match {
      case Vector(sh) if named(sh, "sharding_indexed") =>
        val c = conf(sh)
        val inner = chunkShape(file, "sharding chunk_shape", get(c, "chunk_shape"))
        check(outer(2) % inner(2) == 0 && outer(3) % inner(3) == 0, file,
          "chunk_grid", outer.mkString("[", ",", "]"), "a multiple of the inner chunk shape")
        val index = codecs(c, "index_codecs")
        check(index.length == 2 && littleBytes(index(0)) && named(index(1), "crc32c"),
          file, "index_codecs", index, "bytes(little) → crc32c")
        check(c.get("index_location").forall(_ == "end"), file, "index_location",
          get(c, "index_location"), "end")
        (inner, Some((outer(2) / inner(2), outer(3) / inner(3))),
          xMajor(codecs(c, "codecs"), "sharding codecs"))
      case chain => (outer, None, xMajor(chain, "codecs"))
    }
    V3(s"$root/$varName", GridDef(nT, nB, nY, nX, inner(2), inner(3), itemBytes = 4),
      shard, transposed)
  }

  /** Index entry marking an absent inner chunk: u64-max (spec). */
  private val Absent = -1L

  /** (offset, nbytes) per inner slot from a shard's trailing index,
    * after checking the index's crc32c. */
  private def shardIndex(raw: Array[Byte], nInner: Int, path: String): Iterator[(Long, Long)] = {
    val idxLen = nInner * 16 + 4
    if (raw.length < idxLen)
      throw new IOException(s"shard $path: ${raw.length} bytes < index size $idxLen")
    val idxOff = raw.length - idxLen
    val crc = new java.util.zip.CRC32C()
    crc.update(raw, idxOff, nInner * 16)
    val bb = ByteBuffer.wrap(raw, idxOff, idxLen).order(ByteOrder.LITTLE_ENDIAN)
    val slots = Array.fill(nInner)((bb.getLong(), bb.getLong()))
    val stored = bb.getInt()
    if (stored != crc.getValue.toInt)
      throw new IOException(
        s"shard $path: index crc32c mismatch (stored $stored, computed ${crc.getValue.toInt})")
    slots.iterator
  }

  private def pad(data: Array[Float], g: GridDef): Array[Float] = {
    val full = g.chunkY * g.chunkX
    if (data.length >= full) data
    else data ++ Array.fill(full - data.length)(Float.NaN)
  }

  /** The row-major [rows][cols] array `a` as its row-major [cols][rows]
    * transpose: x-major storage of a [y][x] chunk, and back. */
  private def transposed(a: Array[Float], rows: Int, cols: Int): Array[Float] = {
    val out = new Array[Float](a.length)
    var i = 0
    while (i < a.length) { out((i % cols) * rows + i / cols) = a(i); i += 1 }
    out
  }

  private def le(data: Array[Float]): Array[Byte] = {
    val bytes = new Array[Byte](data.length * 4)
    ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN).asFloatBuffer().put(data)
    bytes
  }

  private def floats(bytes: Array[Byte], from: Int = 0, len: Int = -1): Array[Float] = {
    val out = new Array[Float]((if (len < 0) bytes.length else len) / 4)
    ByteBuffer.wrap(bytes, from, out.length * 4).slice().order(ByteOrder.LITTLE_ENDIAN)
      .asFloatBuffer().get(out)
    out
  }

  /** zlib (RFC 1950) at the declared level 1. */
  private def deflate(bytes: Array[Byte]): Array[Byte] = {
    val d = new java.util.zip.Deflater(1)
    d.setInput(bytes); d.finish()
    val out = new java.io.ByteArrayOutputStream(bytes.length / 2 + 64)
    val buf = new Array[Byte](8192)
    while (!d.finished()) out.write(buf, 0, d.deflate(buf))
    d.end()
    out.toByteArray
  }

  /** gzip (RFC 1952) at the declared level 1. */
  private def gzip(bytes: Array[Byte]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream(bytes.length / 2 + 64)
    val out = new java.util.zip.GZIPOutputStream(bos) {
      `def`.setLevel(1)
    }
    out.write(bytes); out.close()
    bos.toByteArray
  }

  /** Decompress one chunk to exactly its decoded size: a short stream, a
    * longer one, or stored bytes left after the stream's end (`trailing`,
    * read before the stream closes) fail naming the chunk. */
  private def readExact(in: java.io.InputStream, trailing: () => Int, g: GridDef,
                        codec: String, what: String): Array[Byte] = {
    val n = g.chunkY * g.chunkX * 4
    val (b, more) =
      try {
        try { val b = in.readNBytes(n); (b, in.read() != -1 || trailing() > 0) }
        finally in.close()
      } catch {
        case e: IOException => throw new IOException(s"$codec chunk $what: ${e.getMessage}", e)
      }
    if (b.length != n || more)
      throw new IOException(s"$codec chunk $what: expected $n bytes, " +
        s"got ${b.length}${if (more) " plus trailing data" else ""}")
    b
  }
}
