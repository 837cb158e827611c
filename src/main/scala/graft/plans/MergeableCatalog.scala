package graft.plans

import java.util
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.catalyst.expressions.{BoundReference, GenericInternalRow, Literal, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.catalog.functions.{BoundFunction, ScalarFunction, UnboundFunction}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning, Partitioning}
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.Platform

/** An in-memory DataSource V2 catalog whose tables support ROW-LEVEL
  * operations — the interface (`SupportsRowLevelOperations`) that unlocks
  * Spark's native `MERGE INTO` statement (README.md:28 "updates", the
  * textual form of the upsert family: `sink_upsert`/`sink_cdc_apply`
  * implement the same semantics as windows).
  *
  * Spark's built-in file sources cannot MERGE; the analyzer's
  * `RewriteMergeIntoTable` rule requires a v2 table that declares how its
  * rows are replaced. This catalog implements the GROUP-BASED contract
  * (the one Iceberg/Delta's copy-on-write mode uses): the operation's
  * scan reads the affected row groups, Spark computes the merged output
  * (surviving rows + updates + inserts — one join, fully distributed),
  * and the operation's write REPLACES those groups atomically on commit.
  * Here the whole table is one group, so commit swaps the table contents.
  *
  * Scale shape: the distributed part of MERGE — the target↔source join
  * and the merged-row computation — is Spark's own plan, identical to
  * what it produces for Iceberg at any scale; executors stream rows
  * through reader/writer factories, never through the driver's query
  * path. What is deliberately simplified is the COMMIT PAYLOAD: each
  * write task packs its rows' UnsafeRow bytes back to back into a
  * [[RowPage]] and hands the page to the driver where a production
  * catalog hands a data file, and groups are whole-table where a
  * production catalog tracks per-file groups (`requiredMetadataAttributes`
  * = _file + runtime group filtering). A version is an immutable vector
  * of pages; scans read page slices in place. The MERGE surface,
  * rewrite, and plan shape — the parts this entry pins — are the
  * production ones.
  */
class MergeableCatalog extends TableCatalog with SupportsNamespaces
    with FunctionCatalog {

  private var catalogName: String = "graftcat"

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit =
    catalogName = name

  override def name(): String = catalogName

  override def listTables(namespace: Array[String]): Array[Identifier] =
    MergeableCatalog.tables.keySet().asScala
      .filter(_.namespace().sameElements(namespace)).toArray

  override def loadTable(ident: Identifier): Table = {
    val t = MergeableCatalog.tables.get(ident)
    if (t == null) throw new NoSuchTableException(ident)
    t
  }

  /** `VERSION AS OF v` time travel: every commit appends an immutable
    * snapshot (version 0 = the empty table at creation), and a versioned
    * load returns a read-only table over that snapshot — the
    * Iceberg/Delta history contract in miniature, backing the
    * "timestamped raw history" mandate (README.md:27) with a queryable
    * form. Snapshots share pages (commits build a new page vector,
    * never mutate one), so history costs one vector per version plus
    * the pages each commit wrote.
    */
  override def loadTable(ident: Identifier, version: String): Table = {
    val t = MergeableCatalog.tables.get(ident)
    if (t == null) throw new NoSuchTableException(ident)
    val v = try version.toInt catch {
      case _: NumberFormatException =>
        throw new IllegalArgumentException(
          s"version must be an integer snapshot id, got '$version'")
    }
    val (schema, pages) = t.snapshotAt(v)
    new SnapshotTable(s"${t.name()}@v$v", schema, pages)
  }

  /** `TIMESTAMP AS OF t` time travel: resolves to the LATEST snapshot
    * whose commit time is ≤ t — the Iceberg/Delta timestamp-travel
    * contract. Commit times here come from a SYNTHETIC commit clock
    * (version v committed at BASE + v minutes) so timestamp travel is
    * deterministic and replayable; a storage-backed catalog would read
    * real commit metadata, with exactly this floor-to-version lookup.
    */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val t = MergeableCatalog.tables.get(ident)
    if (t == null) throw new NoSuchTableException(ident)
    require(timestamp >= MergeableCatalog.CommitClockBaseMicros,
      s"timestamp precedes the first snapshot of ${t.name()}")
    val v = math.min(
      (timestamp - MergeableCatalog.CommitClockBaseMicros) / 60000000L,
      t.versionCount - 1L).toInt
    val (schema, pages) = t.snapshotAt(v)
    new SnapshotTable(s"${t.name()}@t$timestamp", schema, pages)
  }

  override def createTable(
      ident: Identifier, schema: StructType, partitions: Array[Transform],
      properties: util.Map[String, String]): Table = {
    if (MergeableCatalog.tables.containsKey(ident))
      throw new TableAlreadyExistsException(ident)
    // `PARTITIONED BY (bucket(n, col))` — the storage-partitioned-join
    // layout; any other transform is rejected loudly rather than
    // silently ignored
    val bucket = partitions.toSeq match {
      case Seq() => None
      case Seq(t) if t.name == "bucket" =>
        val n = t.arguments.collectFirst {
          case l: org.apache.spark.sql.connector.expressions.Literal[_] =>
            l.value.asInstanceOf[Number].intValue()
        }.getOrElse(throw new IllegalArgumentException(
          s"bucket transform needs a literal bucket count: $t"))
        val colName = t.references.head.fieldNames.mkString(".")
        val idx = schema.fieldIndex(colName)
        require(schema.fields(idx).dataType == LongType,
          s"bucket column $colName must be BIGINT")
        Some(BucketSpec(idx, n, t))
      case other => throw new UnsupportedOperationException(
        s"unsupported partitioning: ${other.mkString(", ")}")
    }
    val t = new MergeableMemTable(ident.toString, schema, bucket)
    MergeableCatalog.tables.put(ident, t)
    t
  }

  /** `ALTER TABLE … ADD COLUMNS` — in-place schema evolution, the v2
    * counterpart of `scan_merge_schema`'s file-side widening: the table's
    * schema gains the new trailing columns and EVERY existing snapshot
    * (current and historical) reads back with NULL backfill — pure
    * schema-on-read, no data rewrite in a production catalog (here each
    * stored page is re-packed once, standing in for the reader-side
    * projection a file catalog performs per scan). Only top-level
    * appended columns are supported; anything positional or nested is
    * rejected loudly rather than half-applied.
    */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val t = MergeableCatalog.tables.get(ident)
    if (t == null) throw new NoSuchTableException(ident)
    val adds = changes.map {
      case a: TableChange.AddColumn
          if a.fieldNames().length == 1 && a.position() == null =>
        StructField(
          a.fieldNames()(0), a.dataType(), a.isNullable)
      case other => throw new UnsupportedOperationException(
        s"only top-level appended ADD COLUMNS is supported: $other")
    }
    t.evolve(adds)
    t
  }

  override def dropTable(ident: Identifier): Boolean =
    MergeableCatalog.tables.remove(ident) != null

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    val t = MergeableCatalog.tables.remove(oldIdent)
    if (t == null) throw new NoSuchTableException(oldIdent)
    MergeableCatalog.tables.put(newIdent, t)
  }

  // Namespaces are accepted permissively: this catalog's contract is the
  // row-level-operation machinery, not namespace lifecycle.
  override def listNamespaces(): Array[Array[String]] =
    MergeableCatalog.tables.keySet().asScala.map(_.namespace().toSeq).toSet
      .map((ns: Seq[String]) => ns.toArray).toArray

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] =
    Array.empty

  override def loadNamespaceMetadata(namespace: Array[String]): util.Map[String, String] =
    util.Collections.emptyMap()

  override def namespaceExists(namespace: Array[String]): Boolean = true

  override def createNamespace(
      namespace: Array[String], metadata: util.Map[String, String]): Unit = ()

  override def alterNamespace(namespace: Array[String], changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException("ALTER NAMESPACE not supported")

  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean =
    throw new NoSuchNamespaceException(namespace)

  // FunctionCatalog: the one function the partitioning layer needs.
  // Spark resolves a table's partition transforms against the table's
  // OWN catalog with an empty-namespace identifier (V2ExpressionUtils
  // .loadV2FunctionOpt), so `bucket` must live here for the
  // storage-partitioned join's compatibility check to bind both sides
  // to the same canonical function.
  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    Array(Identifier.of(Array.empty[String], "bucket"))

  override def loadFunction(ident: Identifier): UnboundFunction =
    if (ident.name() == "bucket") GraftBucket
    else throw new org.apache.spark.sql.catalyst.analysis.NoSuchFunctionException(ident)
}

/** `bucket(n, key)`: ((key mod n) + n) mod n — deterministic, sign-safe,
  * and trivially replayable in SQL, which keeps every entry over a
  * bucketed table oracle-pairable (a murmur-style bucket would be
  * engine-private). Both sides of a storage-partitioned join bind to
  * THIS object, so `canonicalName` equality — Spark's co-partition
  * compatibility test — holds by construction.
  */
object GraftBucket extends UnboundFunction {
  override def name(): String = "bucket"
  override def description(): String = "bucket(n, key) = ((key % n) + n) % n"
  override def bind(inputType: StructType): BoundFunction = {
    require(inputType.fields.length == 2,
      s"bucket(n, key) takes 2 arguments, got $inputType")
    BucketBound
  }
}

object BucketBound extends ScalarFunction[Integer] {
  override def inputTypes(): Array[DataType] = Array(IntegerType, LongType)
  override def resultType(): DataType = IntegerType
  override def name(): String = "bucket"
  override def canonicalName(): String = "graft.bucket(int, bigint)"
  override def isResultNullable: Boolean = false
  override def produceResult(input: InternalRow): Integer = {
    val n = input.getInt(0)
    val k = input.getLong(1)
    (((k % n) + n) % n).toInt
  }
}

// `transform` is reported by the driver-side scan only; write tasks
// receive the spec for `idOf` alone
private[plans] final case class BucketSpec(
    colIdx: Int, n: Int, @transient transform: Transform) {
  def idOf(row: InternalRow): Int = {
    val k = row.getLong(colIdx)
    (((k % n) + n) % n).toInt
  }
}

object MergeableCatalog {
  // one table store per JVM: every session (and every executor thread in
  // local mode) sees the same committed state, like a shared metastore
  private val tables = new ConcurrentHashMap[Identifier, MergeableMemTable]()

  // synthetic commit clock origin: version v "committed" at BASE + v min
  private[plans] val CommitClockBaseMicros: Long =
    java.time.Instant.parse("2024-06-01T00:00:00Z").toEpochMilli * 1000L

  /** Every page some version of some table holds, once each. */
  private[graft] def storedPages: Set[RowPage] =
    tables.values().asScala.flatMap(_.storedPages).toSet
}

/** The v2 table: batch-readable, batch-writable (append + truncate), and
  * row-level-operable. The current version is an immutable vector of
  * [[RowPage]]s swapped atomically on commit — readers snapshot it at
  * scan-build time, so a MERGE's scan and its replacing write see a
  * consistent version.
  */
class MergeableMemTable(
    tableName: String, tableSchema: StructType,
    bucket: Option[BucketSpec] = None)
    extends Table with SupportsRead with SupportsWrite with SupportsRowLevelOperations {

  // the LIVE schema: starts as the created schema, widened by `evolve`
  private var curSchema: StructType = tableSchema

  // snapshot per commit; index = version, version 0 = empty at creation;
  // the last one is the current version. Guarded by the table's lock.
  private val history =
    scala.collection.mutable.ArrayBuffer[Vector[RowPage]](Vector.empty)

  private def current: (StructType, Vector[RowPage]) =
    synchronized { (curSchema, history.last) }

  /** Append columns to the schema and re-pack every stored page to the
    * new width with NULLs in the added columns, so current AND versioned
    * reads stay aligned with `schema()` (see `alterTable` for the
    * production analogy). Versions share pages, so each distinct page is
    * re-packed once and the re-packed history shares them the same way.
    */
  private[plans] def evolve(newCols: Seq[StructField]): Unit =
    synchronized {
      val old = curSchema
      curSchema = StructType(old.fields ++ newCols)
      val pad = UnsafeProjection.create(
        old.fields.toSeq.zipWithIndex.map { case (f, i) =>
          BoundReference(i, f.dataType, nullable = true)
        } ++ newCols.map(f => Literal(null, f.dataType)))
      val repacked = scala.collection.mutable.HashMap.empty[RowPage, RowPage]
      for (i <- history.indices)
        history(i) = history(i).map(p =>
          repacked.getOrElseUpdate(p, p.map(old.length, pad)))
    }

  private[plans] def versionCount: Int = synchronized { history.length }

  /** The schema and the pages of one version. */
  private[graft] def snapshotAt(version: Int): (StructType, Vector[RowPage]) =
    synchronized {
      require(version >= 0 && version < history.length,
        s"no snapshot $version for table $tableName " +
          s"(versions 0..${history.length - 1})")
      (curSchema, history(version))
    }

  /** Every page the table's versions hold, once each. */
  private[plans] def storedPages: Set[RowPage] =
    synchronized { history.iterator.flatten.toSet }

  override def name(): String = tableName
  override def schema(): StructType = synchronized { curSchema }
  override def partitioning(): Array[Transform] =
    bucket.map(_.transform).toArray
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(
      TableCapability.BATCH_READ,
      TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    () => {
      val (schema, pages) = current
      bucket match {
        case Some(spec) => new KeyedMemScan(schema, pages, spec)
        case None => new MemScan(schema, pages)
      }
    }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new MemWriteBuilder(this, bucket, replaceAll = false, rowLevel = false)

  override def newRowLevelOperationBuilder(
      info: RowLevelOperationInfo): RowLevelOperationBuilder =
    () => new RowLevelOperation {
      override def command(): RowLevelOperation.Command = info.command()
      // the operation's scan defines the GROUPS the write replaces; one
      // group = the whole table, so no metadata attributes are needed
      override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
        () => { val (schema, pages) = current; new MemScan(schema, pages) }
      override def newWriteBuilder(lwi: LogicalWriteInfo): WriteBuilder =
        new MemWriteBuilder(MergeableMemTable.this, bucket, replaceAll = true,
          rowLevel = true)
    }

  private[plans] def commitPages(pages: Seq[RowPage], replaceAll: Boolean): Unit =
    synchronized {
      history += (if (replaceAll) pages.toVector else history.last ++ pages)
    }
}

/** Committed rows packed back to back: row i is the UnsafeRow whose bytes
  * are `data[offsets(i), offsets(i + 1))`. A page never changes once
  * built, so versions share it by reference (and it compares by
  * identity). In a bucketed table every row of a page is in bucket
  * `bucket`; it is -1 otherwise.
  */
private[graft] final class RowPage(
    val data: Array[Byte], val offsets: Array[Int], val bucket: Int)
    extends Serializable {
  def numRows: Int = offsets.length - 1
  def sizeInBytes: Long = data.length + 4L * offsets.length

  /** Points `row` at row `i` of this page. */
  def pointTo(row: UnsafeRow, i: Int): Unit =
    row.pointTo(data, Platform.BYTE_ARRAY_OFFSET + offsets(i),
      offsets(i + 1) - offsets(i))

  /** The rows in order, through one reused UnsafeRow of `numFields`. */
  def rows(numFields: Int): Iterator[UnsafeRow] = {
    val row = new UnsafeRow(numFields)
    Iterator.range(0, numRows).map { i => pointTo(row, i); row }
  }

  /** A new page of `f` applied to every row, in the same bucket. */
  def map(numFields: Int, f: UnsafeProjection): RowPage = {
    val out = new PageBuilder(bucket)
    rows(numFields).foreach(r => out.add(f(r)))
    out.result()
  }
}

/** Packs UnsafeRows into one growing buffer; `result` trims it to a page. */
private final class PageBuilder(bucket: Int) {
  private var data = new Array[Byte](4096)
  private var offsets = new Array[Int](64)
  private var n = 0

  def add(row: UnsafeRow): Unit = {
    val at = offsets(n)
    val size = row.getSizeInBytes
    val need = at.toLong + size
    if (need > data.length) {
      require(need <= Int.MaxValue - 8, s"row page over 2 GB ($need bytes)")
      data = util.Arrays.copyOf(data,
        math.min(math.max(need, 2L * data.length), Int.MaxValue - 8L).toInt)
    }
    if (n + 2 > offsets.length)
      offsets = util.Arrays.copyOf(offsets, 2 * offsets.length)
    Platform.copyMemory(row.getBaseObject, row.getBaseOffset,
      data, Platform.BYTE_ARRAY_OFFSET + at, size)
    n += 1
    offsets(n) = at + size
  }

  def result(): RowPage = new RowPage(
    util.Arrays.copyOf(data, offsets(n)), util.Arrays.copyOf(offsets, n + 1),
    bucket)
}

/** Rows `[from, until)` of one page: what a scan partition carries. It
  * serializes only the bytes of its own rows, so a task ships the part
  * of the table it reads and nothing else.
  */
private final class PageSlice(
    @transient private var page: RowPage,
    @transient private var from: Int,
    @transient private var until: Int) extends Serializable {
  def numRows: Int = until - from
  def pointTo(row: UnsafeRow, i: Int): Unit = page.pointTo(row, from + i)

  private def writeObject(out: java.io.ObjectOutputStream): Unit = {
    val start = page.offsets(from)
    out.writeInt(page.bucket)
    out.writeInt(numRows)
    for (i <- from to until) out.writeInt(page.offsets(i) - start)
    out.write(page.data, start, page.offsets(until) - start)
  }

  private def readObject(in: java.io.ObjectInputStream): Unit = {
    val bucket = in.readInt()
    val n = in.readInt()
    val offsets = Array.fill(n + 1)(in.readInt())
    val data = new Array[Byte](offsets(n))
    in.readFully(data)
    page = new RowPage(data, offsets, bucket)
    from = 0
    until = n
  }
}

/** Read-only view of one committed snapshot, returned by versioned loads. */
private final class SnapshotTable(
    tableName: String, tableSchema: StructType, pages: Vector[RowPage])
    extends Table with SupportsRead {
  override def name(): String = tableName
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    () => new MemScan(tableSchema, pages)
}

/** Scan over a snapshot's pages: the rows split into up to 4 input
  * partitions of contiguous row ranges, so the read side exercises the
  * normal parallel reader path, not a single task. A range carries one
  * slice per page it touches; the reader points one reused UnsafeRow at
  * each row in turn, so no row object is built per row.
  */
private class MemScan(schema: StructType, pages: Vector[RowPage])
    extends Scan with Batch {
  override def readSchema(): StructType = schema
  override def toBatch: Batch = this
  override def planInputPartitions(): Array[InputPartition] = {
    val total = pages.iterator.map(_.numRows.toLong).sum
    val n = math.min(4L, math.max(1L, total)).toInt
    // partition i reads the table's rows [i·total/n, (i+1)·total/n)
    val parts = Array.fill(n)(Vector.newBuilder[PageSlice])
    var base = 0L
    for (p <- pages) {
      for (i <- 0 until n) {
        val lo = math.max(base, i * total / n)
        val hi = math.min(base + p.numRows, (i + 1) * total / n)
        if (lo < hi) parts(i) += new PageSlice(p, (lo - base).toInt, (hi - base).toInt)
      }
      base += p.numRows
    }
    parts.map(b => MemPartition(b.result()): InputPartition)
  }
  override def createReaderFactory(): PartitionReaderFactory =
    MemReaderFactory(schema.length)
}

/** Bucketed scan: one input partition per PRESENT bucket, each carrying
  * its key (`HasPartitionKey`), and the scan reports
  * `KeyGroupedPartitioning` over the table's bucket transform — the
  * contract behind Spark's STORAGE-PARTITIONED JOIN: two tables bucketed
  * the same way on the join key join with ZERO shuffle, the layout move
  * that makes 100 TB fact-fact joins affordable (Iceberg exposes its
  * bucket layout through exactly this interface). Writers keep one page
  * per bucket, so a bucket's partition is the whole pages of its bucket.
  */
private final class KeyedMemScan(
    schema: StructType, pages: Vector[RowPage], spec: BucketSpec)
    extends MemScan(schema, pages) with SupportsReportPartitioning {
  private val grouped: Seq[(Int, Vector[RowPage])] =
    pages.groupBy(_.bucket).toSeq.sortBy(_._1)
  override def outputPartitioning(): Partitioning =
    new KeyGroupedPartitioning(
      Array(spec.transform), math.max(1, grouped.length))
  override def planInputPartitions(): Array[InputPartition] =
    if (grouped.isEmpty) Array(KeyedMemPartition(Vector.empty, 0))
    else grouped.map { case (id, ps) =>
      KeyedMemPartition(ps.map(p => new PageSlice(p, 0, p.numRows)), id)
    }.toArray[InputPartition]
}

private final case class MemPartition(slices: Vector[PageSlice]) extends InputPartition

private final case class KeyedMemPartition(slices: Vector[PageSlice], bucketId: Int)
    extends InputPartition with HasPartitionKey {
  override def partitionKey(): InternalRow =
    new GenericInternalRow(Array[Any](bucketId))
}

private final case class MemReaderFactory(numFields: Int)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val slices = partition match {
      case MemPartition(s) => s
      case KeyedMemPartition(s, _) => s
    }
    new PartitionReader[InternalRow] {
      private val row = new UnsafeRow(numFields)
      private var s = 0
      private var i = -1
      override def next(): Boolean = {
        i += 1
        while (s < slices.length && i >= slices(s).numRows) { s += 1; i = 0 }
        s < slices.length && { slices(s).pointTo(row, i); true }
      }
      override def get(): InternalRow = row
      override def close(): Unit = ()
    }
  }
}

/** Append by default; `truncate()` (INSERT OVERWRITE) and the row-level
  * replace path both flip to replace-on-commit.
  */
private final class MemWriteBuilder(
    table: MergeableMemTable, bucket: Option[BucketSpec],
    replaceAll: Boolean, rowLevel: Boolean)
    extends WriteBuilder with SupportsTruncate {
  private var replace = replaceAll
  override def truncate(): WriteBuilder = { replace = true; this }
  override def build(): Write = new Write {
    override def toBatch: BatchWrite =
      new MemBatchWrite(table, MemWriterFactory(table.schema(), bucket, rowLevel),
        replace)
  }
}

/** Each write task packs its rows into pages — one page, or one per
  * bucket of a bucketed table — and hands them back as its commit
  * message; the driver-side commit swaps (or extends) the table's page
  * vector atomically — the standard DSv2 commit protocol, with pages
  * standing in for the data files a storage-backed catalog would carry.
  *
  * Row-level writes arrive OP-PREFIXED: `ReplaceDataExec` only applies
  * its op-stripping projection when the operation declares
  * `requiredMetadataAttributes` (its `writingTask` falls back to the
  * plain task otherwise — WriteToDataSourceV2Exec.scala in Spark 4.1),
  * so a metadata-free connector receives MergeRows' raw
  * `[__row_operation, cols...]` layout. The writer strips the leading
  * operation column itself (all surviving group-based rows are
  * WRITE/WRITE_WITH_METADATA; DELETE rows are skipped defensively).
  */
private final class MemBatchWrite(
    table: MergeableMemTable, factory: MemWriterFactory, replaceAll: Boolean)
    extends BatchWrite {
  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    factory
  override def commit(messages: Array[WriterCommitMessage]): Unit =
    table.commitPages(
      messages.toSeq.flatMap(_.asInstanceOf[MemWriteMessage].pages), replaceAll)
  override def abort(messages: Array[WriterCommitMessage]): Unit = ()
}

private final case class MemWriterFactory(
    schema: StructType, bucket: Option[BucketSpec], rowLevel: Boolean)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new DataWriter[InternalRow] {
      private val n = schema.length
      // projects [op, c0..cn-1] -> [c0..cn-1]; built lazily so plain
      // appends (rows already in table layout) never pay for it
      private lazy val stripOp = UnsafeProjection.create(
        schema.fields.toSeq.zipWithIndex.map { case (f, i) =>
          BoundReference(i + 1, f.dataType, nullable = true)
        })
      // packs an append row that does not arrive as an UnsafeRow
      private lazy val toUnsafe = UnsafeProjection.create(schema)
      // one builder per bucket (slot 0 alone when the table is unbucketed)
      private val pages = new Array[PageBuilder](bucket.fold(1)(_.n))
      override def write(record: InternalRow): Unit =
        if (rowLevel && record.numFields == n + 1) {
          if (record.getInt(0) != 1) add(stripOp(record)) // 1 = DELETE
        } else add(record match {
          case u: UnsafeRow => u
          case r => toUnsafe(r)
        })
      private def add(row: UnsafeRow): Unit = {
        val slot = bucket.fold(0)(_.idOf(row))
        if (pages(slot) == null)
          pages(slot) = new PageBuilder(if (bucket.isEmpty) -1 else slot)
        pages(slot).add(row)
      }
      override def commit(): WriterCommitMessage =
        MemWriteMessage(pages.filter(_ != null).map(_.result()))
      override def abort(): Unit = pages.indices.foreach(pages(_) = null)
      override def close(): Unit = ()
    }
}

private final case class MemWriteMessage(pages: Array[RowPage])
    extends WriterCommitMessage
