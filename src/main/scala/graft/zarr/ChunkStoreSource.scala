package graft.zarr

import java.util
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DataSourceV2 source for the graft chunk store (SURVEY S4, the
  * "metadata-first read" the reference builds GTIs for — mosaics.py:33-39):
  *
  * {{{ spark.read.format("graft.zarr.ChunkStoreSource").load(root) }}}
  *
  * The chunk grid IS the manifest: keys (time, band, cy, cx) are encoded in
  * file names, so `SupportsPushDownFilters` prunes the file list at PLAN
  * time from key predicates — a region slice reads exactly its chunks,
  * nothing else, and `.explain` shows `PushedFilters` on the scan. Payload
  * bytes are only touched by executors, split into one InputPartition per
  * core-ish group.
  */
class ChunkStoreSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    ChunkStoreSource.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new ChunkStoreTable(properties.get("path"))
  override def supportsExternalMetadata(): Boolean = false
}

object ChunkStoreSource {
  val schema: StructType = StructType(Seq(
    StructField("time", IntegerType, nullable = false),
    StructField("band", IntegerType, nullable = false),
    StructField("cy", IntegerType, nullable = false),
    StructField("cx", IntegerType, nullable = false),
    StructField("data", ArrayType(FloatType, containsNull = false), nullable = false)))

  final case class Key(time: Int, band: Int, cy: Int, cx: Int) {
    /** The value of key column `col`. */
    def apply(col: String): Int = col match {
      case "time" => time; case "band" => band
      case "cy" => cy; case "cx" => cx
      case other => throw new IllegalArgumentException(s"not a key column: $other")
    }
  }

  /** The store's chunk format, detected from its metadata. */
  def layout(root: String): ChunkFormat = ChunkFormat.of(root)

  private val keyCols = Set("time", "band", "cy", "cx")

  /** Public form for the aggregate-pushdown builder. */
  def isKeyCol(name: String): Boolean = keyCols(name)

  /** Evaluate a pushed filter against a chunk key. Only called on filters
    * `evaluable` accepted, so every case is exact — `Not` is safe because an
    * unknown shape can never appear beneath it. Key columns are non-nullable
    * ints, so `<=>` degenerates to `=`, IsNull is constant-false and
    * IsNotNull constant-true. */
  def keep(f: Filter, k: Key): Boolean = f match {
    case EqualTo(a, x: Int)            => k(a) == x
    case EqualNullSafe(a, x: Int)      => k(a) == x
    case GreaterThan(a, x: Int)        => k(a) > x
    case GreaterThanOrEqual(a, x: Int) => k(a) >= x
    case LessThan(a, x: Int)           => k(a) < x
    case LessThanOrEqual(a, x: Int)    => k(a) <= x
    case In(a, xs)                     => xs.contains(k(a))
    case IsNull(_)                     => false
    case IsNotNull(_)                  => true
    case And(l, r)                     => keep(l, k) && keep(r, k)
    case Or(l, r)                      => keep(l, k) || keep(r, k)
    case Not(g)                        => !keep(g, k)
    case other => throw new IllegalStateException(s"unevaluable filter $other pushed")
  }

  /** Pushdown accept-list — MUST match `keep`'s evaluate-list exactly,
    * recursing through And/Or/Not: a filter Spark treats as fully applied
    * but `keep` cannot evaluate would silently return wrong rows (and
    * under Not, prune everything). Anything else stays residual. */
  def evaluable(f: Filter): Boolean = f match {
    case EqualTo(a, _: Int)            => keyCols(a)
    case EqualNullSafe(a, _: Int)      => keyCols(a)
    case GreaterThan(a, _: Int)        => keyCols(a)
    case GreaterThanOrEqual(a, _: Int) => keyCols(a)
    case LessThan(a, _: Int)           => keyCols(a)
    case LessThanOrEqual(a, _: Int)    => keyCols(a)
    case In(a, xs)                     => keyCols(a) && xs.forall(_.isInstanceOf[Int])
    case IsNull(a)                     => keyCols(a)
    case IsNotNull(a)                  => keyCols(a)
    case And(l, r)                     => evaluable(l) && evaluable(r)
    case Or(l, r)                      => evaluable(l) && evaluable(r)
    case Not(g)                        => evaluable(g)
    case _                             => false
  }
}

/** The store's format is detected once, when the store is opened: every
  * scan built from this table shares it, and metadata the decoder cannot
  * read fails the `load`. */
class ChunkStoreTable(root: String) extends Table with SupportsRead {
  private val format = ChunkFormat.of(root)
  override def name(): String = s"graft_chunks($root)"
  override def schema(): StructType = ChunkStoreSource.schema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ChunkScanBuilder(root, format,
      options.getLong("maxPartitionBytes", 128L * 1024 * 1024),
      Option(options.get("keyGroupedBy")).map(_.split(',').map(_.trim).toSeq)
        .getOrElse(Nil))
}

class ChunkScanBuilder(root: String, format: ChunkFormat, maxPartitionBytes: Long,
                       keyGroupedBy: Seq[String] = Nil)
    extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownAggregates
    with SupportsPushDownRequiredColumns {
  import org.apache.spark.sql.connector.expressions.NamedReference
  import org.apache.spark.sql.connector.expressions.aggregate._

  private var pushed: Array[Filter] = Array.empty
  private var pushedAgg: Option[Aggregation] = None
  private var required: StructType = ChunkStoreSource.schema

  /** Column pruning. Key columns come from FILE NAMES, so a projection
    * that drops `data` never opens a payload at all (plain layouts), or
    * reads each shard file whole for its trailing index but decodes no
    * inner chunk (sharded layouts) — "which chunks exist per scene" style
    * queries on a 100 TB store decode no payload even when they aren't
    * expressible as pushed aggregates. */
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (accepted, rejected) = filters.partition(ChunkStoreSource.evaluable)
    pushed = accepted
    rejected // residual: Spark re-applies these above the scan
  }
  override def pushedFilters(): Array[Filter] = pushed

  private def keyRef(e: org.apache.spark.sql.connector.expressions.Expression)
      : Option[String] = e match {
    case f: NamedReference if f.fieldNames.length == 1 &&
      ChunkStoreSource.isKeyCol(f.fieldNames()(0)) => Some(f.fieldNames()(0))
    case _ => None
  }

  /** Aggregates the LISTING alone can answer exactly — COUNT(*) /
    * MIN / MAX over key columns, grouped by key columns. One listed key
    * = one row for plain layouts; a SHARDED store's inner-chunk presence
    * lives behind per-shard indexes, so sharded layouts refuse the push
    * and take the ordinary payload-reading path. */
  private def canPush(agg: Aggregation): Boolean =
    format.shard.isEmpty &&
      agg.groupByExpressions.forall(keyRef(_).isDefined) &&
      agg.aggregateExpressions.forall {
        case _: CountStar => true
        case m: Min => keyRef(m.column).isDefined
        case m: Max => keyRef(m.column).isDefined
        case _ => false
      }

  // plan-time-complete: scan rows ARE the final aggregate (no merge agg)
  override def supportCompletePushDown(agg: Aggregation): Boolean =
    canPush(agg)
  override def pushAggregation(agg: Aggregation): Boolean = {
    if (!canPush(agg)) return false
    pushedAgg = Some(agg)
    true
  }

  override def build(): Scan = pushedAgg match {
    case Some(a) => new ChunkAggScan(root, format, pushed, a)
    case None =>
      new ChunkScan(root, format, pushed, maxPartitionBytes, required, keyGroupedBy)
  }
}

/** Metadata-only aggregate scan: every value derives from the chunk-key
  * listing at PLAN time — no payload byte is opened (spec-proved by
  * corrupting a payload and aggregating anyway). Rows ship as one
  * driver-computed InputPartition; output order is Spark's pushed-agg
  * contract: group columns first, then aggregate columns. */
class ChunkAggScan(root: String, format: ChunkFormat, filters: Array[Filter],
                   agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
    extends Scan with Batch {
  import org.apache.spark.sql.connector.expressions.NamedReference
  import org.apache.spark.sql.connector.expressions.aggregate._

  private def refName(
      e: org.apache.spark.sql.connector.expressions.Expression): String =
    e.asInstanceOf[NamedReference].fieldNames()(0)
  private def groupCols: Seq[String] =
    agg.groupByExpressions.toSeq.map(refName)

  override def readSchema(): StructType = StructType(
    groupCols.map(StructField(_, IntegerType, nullable = false)) ++
      agg.aggregateExpressions.toSeq.zipWithIndex.map {
        case (_: CountStar, i) =>
          StructField(s"agg_$i", LongType, nullable = false)
        case (_, i) => StructField(s"agg_$i", IntegerType, nullable = false)
      })

  override def description(): String =
    s"graft chunk store $root (metadata-only aggregate), " +
      s"PushedFilters: [${filters.mkString(", ")}], " +
      s"PushedAggregation: [$agg]"
  override def toBatch: Batch = this

  override def planInputPartitions(): Array[InputPartition] = {
    val keys = format.list().map(_.key)
      .filter(k => filters.forall(ChunkStoreSource.keep(_, k)))
    val gc = groupCols
    val rows = keys.groupBy(k => gc.map(k(_)))
      .toSeq.map { case (g, ks) =>
        val aggVals = agg.aggregateExpressions.toSeq.map {
          case _: CountStar => ks.size.toLong: Any
          case m: Min => ks.map(_(refName(m.column))).min: Any
          case m: Max => ks.map(_(refName(m.column))).max: Any
          case other =>
            throw new IllegalStateException(s"unpushable agg $other")
        }
        ((g.map(x => x: Any)) ++ aggVals).toArray
      }
    Array(ChunkAggPartition(rows.toArray))
  }
  override def createReaderFactory(): PartitionReaderFactory =
    ChunkAggReaderFactory
}

final case class ChunkAggPartition(rows: Array[Array[Any]])
    extends InputPartition

object ChunkAggReaderFactory extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new RowReader(p.asInstanceOf[ChunkAggPartition].rows.iterator
      .map(new GenericInternalRow(_)))
}

private[zarr] final class RowReader(rows: Iterator[InternalRow])
    extends PartitionReader[InternalRow] {
  private var row: InternalRow = _
  override def next(): Boolean =
    if (!rows.hasNext) false else { row = rows.next(); true }
  override def get(): InternalRow = row
  override def close(): Unit = ()
}

class ChunkScan(root: String, format: ChunkFormat, filters: Array[Filter],
                maxPartitionBytes: Long,
                required: StructType = ChunkStoreSource.schema,
                keyGroupedBy: Seq[String] = Nil)
    extends Scan with Batch with SupportsRuntimeFiltering
    with SupportsReportStatistics with SupportsReportPartitioning {
  import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
  import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning, Partitioning, UnknownPartitioning}

  /** A scan of the store at `root`, its format detected here. */
  def this(root: String, filters: Array[Filter], maxPartitionBytes: Long) =
    this(root, ChunkFormat.of(root), filters, maxPartitionBytes)

  /** The store's chunk files and sizes, listed once on first use:
    * statistics, partition planning and the reported partitioning all
    * read this one snapshot. */
  private lazy val listing: Seq[ChunkFile] = format.list()

  override def readSchema(): StructType = required

  /** STORAGE-PARTITIONED JOIN support (opt-in via
    * `option("keyGroupedBy", "time,band")`): the scan reports
    * KeyGroupedPartitioning over the requested key prefix and plans one
    * input partition PER KEY GROUP (each carrying its partition-key row),
    * so a join of two chunk stores on those keys — cube vs cube, this
    * year vs last year on the same grid — runs with ZERO shuffle on
    * either side when `spark.sql.sources.v2.bucketing.enabled` is on.
    * The trade is partition granularity: key groups replace byte-budget
    * packing, so choose a prefix whose group count ≈ cluster width.
    * Off by default — the plain path keeps its FilePartition-style byte
    * budgeting. */
  override def outputPartitioning(): Partitioning =
    if (keyGroupedBy.isEmpty) new UnknownPartitioning(0)
    else new KeyGroupedPartitioning(
      keyGroupedBy.map(Expressions.identity).toArray,
      planInputPartitions().length)
  override def description(): String =
    s"graft chunk store $root, PushedFilters: [${filters.mkString(", ")}]"
  override def toBatch: Batch = this

  /** Runtime (join-driven) pruning — the DSv2 half of dynamic partition
    * pruning. A broadcast-joined dim table's key values arrive here as an
    * `In` filter at EXECUTION time (after the build side ran), and prune
    * the chunk-file list exactly like plan-time pushed filters do: a
    * "read the chunks for these 3 scenes" join opens 3 scenes' files,
    * not the whole store. Same accept-list as the static push, so an
    * untranslatable runtime filter is simply ignored (Spark re-applies
    * the join itself — correctness never depends on the prune). */
  private var runtimeFilters: Array[Filter] = Array.empty
  override def filterAttributes(): Array[NamedReference] =
    Array("time", "band", "cy", "cx").map(Expressions.column)
  override def filter(fs: Array[Filter]): Unit =
    runtimeFilters = fs.filter(ChunkStoreSource.evaluable)

  /** Plain layout: listed keys ARE row keys — pruning is exact. Sharded
    * layout: listed keys are SHARD coords; a shard survives when ANY of
    * its inner keys satisfies the filters, and the reader re-applies the
    * filters per inner chunk — the pushdown contract (accepted == fully
    * enforced) holds end to end, pruning just moves to shard granularity
    * at plan time. */
  private def surviving(fs: Array[Filter]): Seq[ChunkFile] =
    listing.filter(f => format.innerKeys(f.key)
      .exists(k => fs.forall(ChunkStoreSource.keep(_, k))))

  /** Plan-time stats from the pruned listing, so Catalyst's join sizing
    * sees the store's true (post-static-filter) size instead of the
    * "unknown = infinite" DSv2 default — a small chunk table then
    * BROADCASTS into joins against big fact frames. Rows: one per
    * surviving key (sharded layouts report the sy·sx upper bound — stats
    * may overestimate, never underestimate, so a broadcast decision is
    * always safe). Bytes: decoded row footprint (key ints + payload
    * floats), the in-memory size join planning actually cares about. */
  override def estimateStatistics(): Statistics = {
    val files = surviving(filters)
    val rows = files.size.toLong * format.chunksPerFile
    val payload =
      if (!required.fieldNames.contains("data")) 0L // pruned: keys only
      else files.iterator.map(format.decodedBytes).sum
    val bytes = rows * 16L + payload
    new Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(bytes)
      override def numRows(): java.util.OptionalLong =
        java.util.OptionalLong.of(rows)
    }
  }

  /** Plan-time pruning, then byte-budget splitting (the FilePartition
    * sizing rule): each file costs `max(size, openCost)`, and sorted (for
    * key locality) surviving files are greedily packed into partitions of
    * at most `min(maxPartitionBytes, max(openCost, totalCost / parallelism))`
    * — a 100 TB store at the default 128 MiB budget plans ~800k tasks (not
    * a fixed 32), while a small store fans out to about cluster width, even
    * one of files far smaller than the open cost.
    * The key listing is driver-side, like Spark's own InMemoryFileIndex:
    * one flat directory of names (~40 B/chunk of driver memory, seconds
    * per million entries); a store beyond that keeps a manifest table
    * instead of a listing — the GtiMosaic pattern. */
  override def planInputPartitions(): Array[InputPartition] = {
    // static pushed filters + any join-driven runtime filters: both prune
    // identically (runtime ones just arrive after the build side executed).
    // Key-grouped mode ignores runtime filters — dropping whole groups at
    // execution would contradict the partition count the planner already
    // reported (correctness is unaffected; the join re-applies them).
    val filters =
      if (keyGroupedBy.nonEmpty) this.filters
      else this.filters ++ runtimeFilters
    val files = surviving(filters)
      .sortBy(f => (f.key.time, f.key.band, f.key.cy, f.key.cx))
    def part(fs: Array[ChunkFile]) =
      ChunkInputPartition(fs, format, filters, required.fieldNames)
    if (keyGroupedBy.nonEmpty) {
      // one partition per key group, each tagged with its partition-key
      // row (HasPartitionKey) — the SPJ contract. Sorted by key for
      // plan determinism.
      import scala.math.Ordering.Implicits.seqOrdering
      return files.groupBy(f => keyGroupedBy.map(f.key(_))).toArray.sortBy(_._1)
        .map { case (keyVals, fs) =>
          new KeyedChunkInputPartition(part(fs.toArray), keyVals.toArray): InputPartition
        }
    }
    if (files.isEmpty) return Array(part(Array.empty))
    val openCost = 4L * 1024 // per-file overhead floor, as in FilePartition
    def cost(f: ChunkFile) = math.max(f.size, openCost)
    val totalCost = files.iterator.map(cost).sum
    val parallelism = org.apache.spark.sql.SparkSession.active
      .sparkContext.defaultParallelism.toLong.max(1L)
    val budget = math.min(maxPartitionBytes,
      math.max(openCost, totalCost / parallelism + 1))
    val parts = Array.newBuilder[InputPartition]
    val cur = Array.newBuilder[ChunkFile]
    var curBytes = 0L; var curN = 0
    for (f <- files) {
      if (curN > 0 && curBytes + cost(f) > budget) {
        parts += part(cur.result())
        cur.clear(); curBytes = 0L; curN = 0
      }
      cur += f; curBytes += cost(f); curN += 1
    }
    if (curN > 0) parts += part(cur.result())
    parts.result()
  }
  override def createReaderFactory(): PartitionReaderFactory = ChunkReaderFactory
}

/** Chunk files for one read task, the store's format to decode them, the
  * pushed filters (re-applied per chunk: a shard file holds chunks the
  * filters reject) and the output columns. */
final case class ChunkInputPartition(
    files: Array[ChunkFile], format: ChunkFormat,
    filters: Array[Filter], fields: Array[String])
    extends InputPartition

/** A chunk partition tagged with its partition-key row — what
  * `KeyGroupedPartitioning` requires for storage-partitioned joins. */
final class KeyedChunkInputPartition(
    val inner: ChunkInputPartition, val keyVals: Array[Int])
    extends InputPartition with HasPartitionKey {
  override def partitionKey(): InternalRow =
    new GenericInternalRow(keyVals.map(x => x: Any))
}

object ChunkReaderFactory extends PartitionReaderFactory {

  /** Assemble an output row in the PRUNED schema's field order; `data` is
    * by-name so a key-only projection never decodes (or even reads) the
    * payload. */
  private def projectRow(k: ChunkStoreSource.Key, fields: Array[String],
                         data: => Array[Float]): InternalRow = {
    val vals = new Array[Any](fields.length)
    var i = 0
    while (i < fields.length) {
      vals(i) =
        if (fields(i) == "data") new GenericArrayData(data.map(f => f: Any))
        else k(fields(i))
      i += 1
    }
    new GenericInternalRow(vals)
  }

  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val part = p match {
      case kp: KeyedChunkInputPartition => kp.inner
      case cp: ChunkInputPartition => cp
    }
    new RowReader(part.files.iterator.flatMap(part.format.chunks).collect {
      case (k, data) if part.filters.forall(ChunkStoreSource.keep(_, k)) =>
        projectRow(k, part.fields, data())
    })
  }
}
