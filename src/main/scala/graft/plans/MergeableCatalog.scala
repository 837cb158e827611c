package graft.plans

import java.util
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.catalyst.expressions.{BoundReference, GenericInternalRow, JoinedRow, Literal, SpecificInternalRow, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.catalog.functions.{BoundFunction, ScalarFunction, UnboundFunction}
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference, Transform}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning, Partitioning}
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.Platform

/** An in-memory DataSource V2 catalog whose tables support ROW-LEVEL
  * operations — the interface (`SupportsRowLevelOperations`) that unlocks
  * Spark's native `MERGE INTO`, `UPDATE` and `DELETE` statements
  * (README.md:28 "updates", the textual form of the upsert family:
  * `sink_upsert`/`sink_cdc_apply` implement the same semantics as windows).
  *
  * Spark's built-in file sources cannot MERGE; the analyzer's
  * `RewriteMergeIntoTable` rule requires a v2 table that declares how its
  * rows change. This catalog implements the DELTA contract
  * (`SupportsDelta`, the one Iceberg's merge-on-read mode uses): every
  * row carries a position (the `_pos` metadata column), the operation's
  * scan reads the rows the statement may touch together with their
  * positions, Spark computes the changes (deletes by position, updates,
  * inserts — one join, fully distributed), and the commit marks the
  * deleted positions in per-page bitmaps and appends the updated and
  * inserted rows as new pages. Rows the statement does not change are
  * neither written nor stored again.
  *
  * Scale shape: the distributed part of MERGE — the target↔source join
  * and the change computation — is Spark's own plan, identical to what it
  * produces for Iceberg at any scale; executors stream rows through
  * reader/writer factories, never through the driver's query path. What
  * is deliberately simplified is the COMMIT PAYLOAD: each write task packs
  * its rows' UnsafeRow bytes back to back into a [[RowPage]] and hands
  * the page, with the positions it deletes, to the driver where a
  * production catalog hands a data file and a position-delete file. A
  * version is an immutable vector of [[LivePage]]s (a page plus its
  * deletion bitmap); scans read page slices in place. The MERGE surface,
  * rewrite, and plan shape — the parts these entries pin — are the
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
    * form. Snapshots share pages and deletion bitmaps (commits build a
    * new page vector, never mutate one), so history costs one vector per
    * version plus the pages each commit wrote and the bitmaps it changed.
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
    * stored page is re-packed once, row for row, standing in for the
    * reader-side projection a file catalog performs per scan). Only top-level
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

  /** The row-id metadata column: a row's position, page id << 32 | row
    * index within the page.
    */
  private[plans] val PosColumn = "_pos"

  /** Every page and deletion bitmap some version of some table holds,
    * once each (by identity), with its size in bytes.
    */
  private[graft] def stored: Map[AnyRef, Long] =
    tables.values().asScala.flatMap(_.stored).toMap
}

/** The v2 table: batch-readable, batch-writable (append + truncate), and
  * row-level-operable through deltas. The current version is an
  * immutable vector of [[LivePage]]s swapped atomically on commit —
  * readers snapshot it at scan-build time. A DML's commit applies its
  * deletes by page id, which no later commit reuses, and fails if a page
  * it deletes from has left the current version (an overwrite between
  * its scan and its commit).
  */
class MergeableMemTable(
    tableName: String, tableSchema: StructType,
    bucket: Option[BucketSpec] = None)
    extends Table with SupportsRead with SupportsWrite
    with SupportsRowLevelOperations with SupportsMetadataColumns {

  // the LIVE schema: starts as the created schema, widened by `evolve`
  private var curSchema: StructType = tableSchema

  // snapshot per commit; index = version, version 0 = empty at creation;
  // the last one is the current version. Guarded by the table's lock.
  private val history =
    scala.collection.mutable.ArrayBuffer[Vector[LivePage]](Vector.empty)

  // pages committed so far: a new page's id is the count before it, so
  // ids index the table's append-only page sequence and never repeat
  private var pageCount = 0

  private def current: (StructType, Vector[LivePage]) =
    synchronized { (curSchema, history.last) }

  /** Append columns to the schema and re-pack every stored page to the
    * new width with NULLs in the added columns, so current AND versioned
    * reads stay aligned with `schema()` (see `alterTable` for the
    * production analogy). Pages are re-packed row for row, so positions
    * and deletion bitmaps carry over; each distinct page is re-packed
    * once and the re-packed history shares pages the same way.
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
      val views = scala.collection.mutable.HashMap.empty[LivePage, LivePage]
      for (i <- history.indices)
        history(i) = history(i).map(v => views.getOrElseUpdate(v,
          new LivePage(v.id,
            repacked.getOrElseUpdate(v.page, v.page.map(old.length, pad)),
            v.deleted)))
    }

  private[plans] def versionCount: Int = synchronized { history.length }

  /** The schema and the pages of one version. */
  private[graft] def snapshotAt(version: Int): (StructType, Vector[LivePage]) =
    synchronized {
      require(version >= 0 && version < history.length,
        s"no snapshot $version for table $tableName " +
          s"(versions 0..${history.length - 1})")
      (curSchema, history(version))
    }

  /** Every page and bitmap the table's versions hold, with its bytes. */
  private[plans] def stored: Seq[(AnyRef, Long)] =
    synchronized {
      history.iterator.flatten.flatMap { v =>
        Iterator(v.page -> v.page.sizeInBytes) ++
          Option(v.deleted).map(b => b -> 8L * b.length)
      }.toList
    }

  override def name(): String = tableName
  override def schema(): StructType = synchronized { curSchema }
  override def partitioning(): Array[Transform] =
    bucket.map(_.transform).toArray
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(
      TableCapability.BATCH_READ,
      TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE)
  override def metadataColumns(): Array[MetadataColumn] = Array(PosMetadata)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val (schema, pages) = current
    new MemScanBuilder(schema, pages, bucket)
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new MemWriteBuilder(this, bucket)

  override def newRowLevelOperationBuilder(
      info: RowLevelOperationInfo): RowLevelOperationBuilder =
    () => new SupportsDelta {
      override def command(): RowLevelOperation.Command = info.command()
      override def rowId(): Array[NamedReference] =
        Array(Expressions.column(MergeableCatalog.PosColumn))
      override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
        MergeableMemTable.this.newScanBuilder(options)
      override def newWriteBuilder(lwi: LogicalWriteInfo): DeltaWriteBuilder =
        new MemWriteBuilder(MergeableMemTable.this, bucket)
    }

  /** Commits one write: the new version is the current one (or, for a
    * replace, nothing) with the `deletes` positions marked in copies of
    * the bitmaps they touch, plus `pages` under fresh ids. A page left
    * with no live row drops out of the version.
    */
  private[plans] def commit(
      pages: Seq[RowPage], deletes: Array[Long], replace: Boolean): Unit =
    synchronized {
      val base = if (replace) Vector.empty else history.last
      val byPage = deletes.groupBy(p => (p >>> 32).toInt)
      val missing = byPage.keySet -- base.iterator.map(_.id)
      if (missing.nonEmpty) throw new IllegalStateException(
        s"deletes name pages ${missing.mkString(", ")} that the current " +
          s"version of $tableName does not hold")
      val kept = base.flatMap(v => byPage.get(v.id).fold(Option(v))(v.deleting))
      val added = pages.map { p => pageCount += 1; new LivePage(pageCount - 1, p, null) }
      history += kept ++ added
    }
}

private object PosMetadata extends MetadataColumn {
  override def name(): String = MergeableCatalog.PosColumn
  override def dataType(): DataType = LongType
  override def isNullable: Boolean = false
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

/** One page as a version holds it: the page, its id in the table (a
  * row's position is `id << 32 | row index`) and the bitmap of the rows
  * deleted as of that version, one bit per row (null while none is).
  * Versions share these, and a commit copies only the bitmaps it changes.
  */
private[graft] final class LivePage(
    val id: Int, val page: RowPage, val deleted: Array[Long]) {
  def bucket: Int = page.bucket
  def sizeInBytes: Long =
    page.sizeInBytes + (if (deleted == null) 0L else 8L * deleted.length)

  def isLive(i: Int): Boolean =
    deleted == null || (deleted(i >>> 6) & (1L << i)) == 0

  def numLive: Int =
    if (deleted == null) page.numRows
    else page.numRows - deleted.iterator.map(java.lang.Long.bitCount).sum

  /** The index of the `r`-th live row (`page.numRows` past the last). */
  def liveIndex(r: Int): Int =
    if (deleted == null) r
    else {
      var i = 0
      var seen = 0
      while (i < page.numRows && (seen < r || !isLive(i))) {
        if (isLive(i)) seen += 1
        i += 1
      }
      i
    }

  /** The live rows in order, through one reused UnsafeRow of `numFields`. */
  def rows(numFields: Int): Iterator[UnsafeRow] = {
    val row = new UnsafeRow(numFields)
    Iterator.range(0, page.numRows).filter(isLive)
      .map { i => page.pointTo(row, i); row }
  }

  /** This page with the rows at `positions` deleted too; None when no
    * row is left.
    */
  def deleting(positions: Array[Long]): Option[LivePage] = {
    val bits =
      if (deleted == null) new Array[Long]((page.numRows + 63) >>> 6)
      else deleted.clone()
    positions.foreach { p => val i = p.toInt; bits(i >>> 6) |= 1L << i }
    Some(new LivePage(id, page, bits)).filter(_.numLive > 0)
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

/** The live rows among rows `[from, until)` of one page: what a scan
  * partition carries. It serializes only the bytes of those rows, plus
  * their positions when the scan reads `_pos`, so a task ships the part
  * of the table it reads and nothing else; the deserialized slice holds
  * just those rows, with no bitmap.
  */
private final class PageSlice(
    @transient private var view: LivePage,
    @transient private var from: Int,
    @transient private var until: Int,
    withPos: Boolean) extends Serializable {
  // the page row index of each shipped row once deserialized (positions
  // only); null while the slice reads its page in place
  @transient private var index: Array[Int] = _

  def numRows: Int = until - from

  /** The first live row at or after `i`, or `numRows`. */
  def nextLive(i: Int): Int = {
    var j = i
    while (j < numRows && !view.isLive(from + j)) j += 1
    j
  }
  def pointTo(row: UnsafeRow, i: Int): Unit = view.page.pointTo(row, from + i)
  def position(i: Int): Long =
    (view.id.toLong << 32) | (if (index == null) from + i else index(i))

  private def writeObject(out: java.io.ObjectOutputStream): Unit = {
    out.defaultWriteObject()
    val page = view.page
    val live = Array.range(from, until).filter(view.isLive)
    out.writeInt(view.id)
    out.writeInt(page.bucket)
    out.writeInt(live.length)
    var at = 0
    out.writeInt(0)
    for (i <- live) { at += page.offsets(i + 1) - page.offsets(i); out.writeInt(at) }
    // each run of live rows is contiguous in the page: one write per run
    var k = 0
    while (k < live.length) {
      var j = k + 1
      while (j < live.length && live(j) == live(j - 1) + 1) j += 1
      out.write(page.data, page.offsets(live(k)),
        page.offsets(live(j - 1) + 1) - page.offsets(live(k)))
      k = j
    }
    if (withPos) live.foreach(out.writeInt)
  }

  private def readObject(in: java.io.ObjectInputStream): Unit = {
    in.defaultReadObject()
    val id = in.readInt()
    val bucket = in.readInt()
    val n = in.readInt()
    val offsets = Array.fill(n + 1)(in.readInt())
    val data = new Array[Byte](offsets(n))
    in.readFully(data)
    index = if (withPos) Array.fill(n)(in.readInt()) else null
    view = new LivePage(id, new RowPage(data, offsets, bucket), null)
    from = 0
    until = n
  }
}

/** Read-only view of one committed snapshot, returned by versioned loads. */
private final class SnapshotTable(
    tableName: String, tableSchema: StructType, pages: Vector[LivePage])
    extends Table with SupportsRead {
  override def name(): String = tableName
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new MemScanBuilder(tableSchema, pages, None)
}

/** Builds the scan of one version; the scan adds the `_pos` column only
  * when the query reads it (a DML's scan), so plain reads keep the
  * table's schema.
  */
private final class MemScanBuilder(
    schema: StructType, pages: Vector[LivePage], bucket: Option[BucketSpec])
    extends ScanBuilder with SupportsPushDownRequiredColumns {
  private var withPos = false
  override def pruneColumns(required: StructType): Unit =
    withPos = required.fieldNames.exists(_.equalsIgnoreCase(MergeableCatalog.PosColumn))
  override def build(): Scan = bucket match {
    case Some(spec) => new KeyedMemScan(schema, pages, withPos, spec)
    case None => new MemScan(schema, pages, withPos)
  }
}

/** Scan over a snapshot's pages: the live rows split into up to 4 input
  * partitions of contiguous row ranges, so the read side exercises the
  * normal parallel reader path, not a single task. A range carries one
  * slice per page it touches; the reader points one reused UnsafeRow at
  * each live row in turn, so no row object is built per row.
  */
private class MemScan(schema: StructType, pages: Vector[LivePage], withPos: Boolean)
    extends Scan with Batch {
  override def readSchema(): StructType =
    if (withPos) schema.add(MergeableCatalog.PosColumn, LongType, nullable = false)
    else schema
  override def toBatch: Batch = this
  override def planInputPartitions(): Array[InputPartition] = {
    val live = pages.map(_.numLive.toLong)
    val total = live.sum
    val n = math.min(4L, math.max(1L, total)).toInt
    // partition i reads the table's live rows [i·total/n, (i+1)·total/n)
    val parts = Array.fill(n)(Vector.newBuilder[PageSlice])
    var base = 0L
    for ((p, k) <- pages.zip(live)) {
      for (i <- 0 until n) {
        val lo = math.max(base, i * total / n)
        val hi = math.min(base + k, (i + 1) * total / n)
        if (lo < hi) parts(i) += new PageSlice(p,
          p.liveIndex((lo - base).toInt), p.liveIndex((hi - base).toInt), withPos)
      }
      base += k
    }
    parts.map(b => MemPartition(b.result()): InputPartition)
  }
  override def createReaderFactory(): PartitionReaderFactory =
    MemReaderFactory(schema.length, withPos)
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
    schema: StructType, pages: Vector[LivePage], withPos: Boolean, spec: BucketSpec)
    extends MemScan(schema, pages, withPos) with SupportsReportPartitioning {
  private val grouped: Seq[(Int, Vector[LivePage])] =
    pages.groupBy(_.bucket).toSeq.sortBy(_._1)
  override def outputPartitioning(): Partitioning =
    new KeyGroupedPartitioning(
      Array(spec.transform), math.max(1, grouped.length))
  override def planInputPartitions(): Array[InputPartition] =
    if (grouped.isEmpty) Array(KeyedMemPartition(Vector.empty, 0))
    else grouped.map { case (id, ps) =>
      KeyedMemPartition(ps.map(p => new PageSlice(p, 0, p.page.numRows, withPos)), id)
    }.toArray[InputPartition]
}

private final case class MemPartition(slices: Vector[PageSlice]) extends InputPartition

private final case class KeyedMemPartition(slices: Vector[PageSlice], bucketId: Int)
    extends InputPartition with HasPartitionKey {
  override def partitionKey(): InternalRow =
    new GenericInternalRow(Array[Any](bucketId))
}

/** Reads the live rows of a partition's slices; with `withPos` each row
  * is followed by its `_pos`.
  */
private final case class MemReaderFactory(numFields: Int, withPos: Boolean)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val slices = partition match {
      case MemPartition(s) => s
      case KeyedMemPartition(s, _) => s
    }
    new PartitionReader[InternalRow] {
      private val row = new UnsafeRow(numFields)
      private val pos = new SpecificInternalRow(Seq(LongType))
      private val out = if (withPos) new JoinedRow(row, pos) else row
      private var s = 0
      private var i = -1
      override def next(): Boolean = {
        while (s < slices.length) {
          i = slices(s).nextLive(i + 1)
          if (i < slices(s).numRows) {
            slices(s).pointTo(row, i)
            if (withPos) pos.setLong(0, slices(s).position(i))
            return true
          }
          s += 1
          i = -1
        }
        false
      }
      override def get(): InternalRow = out
      override def close(): Unit = ()
    }
  }
}

/** One builder for every write: append by default, replace-on-commit
  * after `truncate()` (INSERT OVERWRITE), and deltas for UPDATE, DELETE
  * and MERGE.
  */
private final class MemWriteBuilder(
    table: MergeableMemTable, bucket: Option[BucketSpec])
    extends DeltaWriteBuilder with SupportsTruncate {
  private var replace = false
  override def truncate(): WriteBuilder = { replace = true; this }
  override def build(): DeltaWrite = new DeltaWrite {
    override def toBatch: DeltaBatchWrite =
      new MemBatchWrite(table, MemWriterFactory(table.schema(), bucket), replace)
  }
}

/** Each write task packs the rows it inserts (appended, updated or
  * merged-in rows) into pages — one page, or one per bucket of a bucketed
  * table — and hands them back as its commit message with the positions
  * it deletes (the old image of each updated row, and each deleted row);
  * the driver-side commit builds the next version from them atomically —
  * the standard DSv2 commit protocol, with pages and positions standing
  * in for the data and position-delete files a storage-backed catalog
  * would carry.
  */
private final class MemBatchWrite(
    table: MergeableMemTable, factory: MemWriterFactory, replace: Boolean)
    extends DeltaBatchWrite {
  override def createBatchWriterFactory(info: PhysicalWriteInfo): DeltaWriterFactory =
    factory
  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val ms = messages.map(_.asInstanceOf[MemWriteMessage])
    table.commit(ms.flatMap(_.pages).toSeq, ms.flatMap(_.deletes), replace)
  }
  override def abort(messages: Array[WriterCommitMessage]): Unit = ()
}

private final case class MemWriterFactory(
    schema: StructType, bucket: Option[BucketSpec])
    extends DeltaWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DeltaWriter[InternalRow] =
    new DeltaWriter[InternalRow] {
      // packs a row that does not arrive as an UnsafeRow (the delta
      // projections of a DML, some appends)
      private lazy val toUnsafe = UnsafeProjection.create(schema)
      // one builder per bucket (slot 0 alone when the table is unbucketed)
      private val pages = new Array[PageBuilder](bucket.fold(1)(_.n))
      private val deletes = new scala.collection.mutable.ArrayBuilder.ofLong
      override def delete(metadata: InternalRow, id: InternalRow): Unit =
        deletes += id.getLong(0)
      override def update(metadata: InternalRow, id: InternalRow, row: InternalRow): Unit = {
        delete(metadata, id)
        insert(row)
      }
      override def insert(record: InternalRow): Unit = {
        val row = record match {
          case u: UnsafeRow => u
          case r => toUnsafe(r)
        }
        val slot = bucket.fold(0)(_.idOf(row))
        if (pages(slot) == null)
          pages(slot) = new PageBuilder(if (bucket.isEmpty) -1 else slot)
        pages(slot).add(row)
      }
      override def commit(): WriterCommitMessage =
        MemWriteMessage(pages.filter(_ != null).map(_.result()), deletes.result())
      override def abort(): Unit = pages.indices.foreach(pages(_) = null)
      override def close(): Unit = ()
    }
}

private final case class MemWriteMessage(pages: Array[RowPage], deletes: Array[Long])
    extends WriterCommitMessage
