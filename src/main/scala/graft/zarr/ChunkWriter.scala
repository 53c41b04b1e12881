package graft.zarr

import java.nio.file.{Files, Path, StandardCopyOption}
import org.apache.spark.sql.Dataset
import graft.cube.ChunkRow

/** The one S9 chunk-write path for every layout: each chunk is encoded by
  * the store's [[ChunkFormat]] and written to its deterministic key via
  * temp file + atomic rename, so task retries and speculative duplicates
  * are idempotent with no commit coordination. */
private[zarr] object ChunkWriter {

  def write(ds: Dataset[ChunkRow], format: ChunkFormat): Unit =
    ds.foreachPartition { (it: Iterator[ChunkRow]) =>
      it.foreach { r =>
        put(format.path(ChunkStoreSource.Key(r.time, r.band, r.cy, r.cx)),
          format.encode(r.data))
      }
    }

  def put(dst: Path, bytes: Array[Byte]): Unit = {
    Files.createDirectories(dst.getParent)
    val tmp = dst.resolveSibling(s".${dst.getFileName}.${java.util.UUID.randomUUID}.tmp")
    Files.write(tmp, bytes)
    Files.move(tmp, dst, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }
}
