package graft.sources

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.{Map => JMap}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, SupportsTruncate, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** The WRITE half of the DSv2 extension surface (the read half is
  * [[GraftDocsSource]]): a manifest-committed table with the commit protocol
  * a real warehouse sink needs at 1000 executors —
  *
  *  - each task writes to a UNIQUELY-NAMED staged file under `_staging/`
  *    (name carries queryId + partition + task attempt), so concurrent and
  *    speculative attempts never collide;
  *  - only the driver-side `BatchWrite.commit` makes data visible: staged
  *    files named by the surviving attempts' commit messages are promoted
  *    into the table directory and an atomically-replaced `_manifest` lists
  *    exactly the committed files (+ schema + row counts);
  *  - readers plan ONE partition per manifest-listed file and never see
  *    staged, aborted, or orphaned files — a torn job leaves the previous
  *    table state fully intact (exactly-once at the job level, the moral of
  *    Spark's own FileCommitProtocol / Iceberg-style snapshot commit);
  *  - `abort` deletes this query's staged files; a crash that skips abort
  *    leaves garbage only in `_staging/`, invisible to readers.
  *
  * Concurrency contract: every manifest read-modify-write runs under the
  * table's commit lock ([[ManifestLock]]: per-dir JVM monitor + OS file
  * lock on `_commit.lock`), so CONCURRENT APPENDS from same-host writers
  * all land — the old single-writer race (last commit wins, the loser's
  * files become vacuum-able orphans) is closed. Row-level ops
  * (DELETE/UPDATE/OPTIMIZE) publish by replacing exactly the files they
  * read against the CURRENT manifest ([[ManifestTable.publishReplacing]]),
  * so they commute with appends; two row-level ops over OVERLAPPING files
  * remain last-writer-wins within the lock (run those serially, Delta's
  * own conflict rule). Multi-HOST writers on a shared object store need a
  * lock service, exactly as Delta documents. Concurrent READERS are always
  * safe: they see whichever manifest the atomic swap last published.
  *
  * Each committed file carries a ZONE MAP — per-numeric-column [min, max]
  * gathered by the task writer in the same pass that writes the rows — and
  * the reader implements `SupportsPushDownFilters`: pushed numeric
  * predicates skip whole files whose range proves no row can match (the
  * manifest-level analog of parquet row-group statistics / Delta file
  * skipping). All filters stay residual — surviving files still filter
  * row-by-row — so skipping is purely an I/O eliminator, never a
  * correctness dependency.
  *
  * Append and truncate-overwrite are supported (`SupportsTruncate` — the
  * manifest swap makes overwrite atomic too). Every commit also archives
  * the new state as `_manifest.v{n}` — SNAPSHOT TIME TRAVEL: read any past
  * version with `.option("snapshot", n)` (overwritten files stay on disk
  * until `VACUUM MANIFEST '<dir>' RETAIN k SNAPSHOTS` expires the versions
  * that reference them — the Iceberg snapshot-expiry model). Reads prune
  * columns at the reader ([[SupportsPushDownRequiredColumns]]).
  *
  * Row encoding is line-oriented TSV with `\`-escaping (encoding is
  * incidental — the commit protocol is the point; a production fork swaps
  * the writer body for parquet). Supported field types: long, int, double,
  * boolean, string, date, timestamp.
  *
  * Usage:
  * {{{
  *   df.write.format("graft.sources.GraftManifestSink")
  *     .option("path", dir).mode("append").save()
  *   spark.read.format("graft.sources.GraftManifestSink")
  *     .option("path", dir).load()
  * }}}
  */
class GraftManifestSink extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val dir = GraftManifestSink.tableDir(options)
    val m = Option(options.get("snapshot")) match {
      case Some(v) => Manifest.readSnapshot(dir, v.toInt)
      case None => Manifest.read(dir)
    }
    val schema = m.map(_.schema).getOrElse(throw new IllegalArgumentException(
      s"no _manifest at $dir: write first, or pass a schema"))
    // streaming change feed ([[ManifestCdfStream]]): the relation carries
    // the change columns
    if (options.getBoolean("changeFeed", false))
      StructType(schema.fields :+
        StructField("_change_type", StringType, nullable = false) :+
        StructField("_commit_version", IntegerType, nullable = false))
    else schema
  }
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: JMap[String, String]): Table = {
    val dir = properties.asScala.getOrElse("path",
      throw new IllegalArgumentException("graft-manifest table requires option 'path'"))
    if (properties.asScala.get("changeFeed").contains("true"))
      new ManifestCdfTable(Paths.get(dir), schema)
    else new ManifestTable(Paths.get(dir), schema,
      properties.asScala.get("snapshot").map(_.toInt))
  }
  override def supportsExternalMetadata(): Boolean = true
}

object GraftManifestSink {
  private[sources] def tableDir(options: CaseInsensitiveStringMap): Path =
    Paths.get(Option(options.get("path")).getOrElse(
      throw new IllegalArgumentException("graft-manifest table requires option 'path'")))

  // --- TSV field codec (escape: \\ \t \n \r; null = \N) -------------------
  private[sources] def escape(s: String): String = {
    val b = new StringBuilder(s.length + 8)
    s.foreach {
      case '\\' => b.append("\\\\")
      case '\t' => b.append("\\t")
      case '\n' => b.append("\\n")
      case '\r' => b.append("\\r")
      case c => b.append(c)
    }
    b.toString
  }
  private[sources] def unescape(s: String): String = {
    val b = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < s.length) {
        s.charAt(i + 1) match {
          case '\\' => b.append('\\'); case 't' => b.append('\t')
          case 'n' => b.append('\n'); case 'r' => b.append('\r')
          case o => b.append(o)
        }
        i += 2
      } else { b.append(c); i += 1 }
    }
    b.toString
  }

  private[sources] def render(row: InternalRow, schema: StructType): String =
    schema.fields.indices.map { i =>
      if (row.isNullAt(i)) "\\N"
      else schema.fields(i).dataType match {
        case LongType => row.getLong(i).toString
        case IntegerType => row.getInt(i).toString
        case DoubleType => row.getDouble(i).toString
        case org.apache.spark.sql.types.FloatType => row.getFloat(i).toString
        case d: org.apache.spark.sql.types.DecimalType =>
          row.getDecimal(i, d.precision, d.scale).toJavaBigDecimal.toPlainString
        case BooleanType => row.getBoolean(i).toString
        case StringType => escape(row.getUTF8String(i).toString)
        case DateType => row.getInt(i).toString // days since epoch (internal repr)
        case TimestampType => row.getLong(i).toString // micros since epoch (internal repr)
        case org.apache.spark.sql.types.BinaryType =>
          java.util.Base64.getEncoder.encodeToString(row.getBinary(i))
        case a: org.apache.spark.sql.types.ArrayType =>
          val bos = new java.io.ByteArrayOutputStream()
          writeArray(new java.io.DataOutputStream(bos),
            row.getArray(i), a.elementType)
          java.util.Base64.getEncoder.encodeToString(bos.toByteArray)
        case st: StructType =>
          val bos = new java.io.ByteArrayOutputStream()
          writeStruct(new java.io.DataOutputStream(bos),
            row.getStruct(i, st.length), st)
          java.util.Base64.getEncoder.encodeToString(bos.toByteArray)
        case mt: org.apache.spark.sql.types.MapType =>
          val bos = new java.io.ByteArrayOutputStream()
          writeMap(new java.io.DataOutputStream(bos), row.getMap(i), mt)
          java.util.Base64.getEncoder.encodeToString(bos.toByteArray)
        case dt => throw new UnsupportedOperationException(s"type $dt")
      }
    }.mkString("\t")

  // --- COMPLEX-TYPE cell frames (base64 in the TSV cell) ------------------
  // ARRAY:  [n: int4][null bitmap ceil(n/8), bit set = NULL][non-null
  //         elements in order]
  // STRUCT: the same frame over its fields (a struct IS a fixed-width
  //         "array" of heterogeneous slots)
  // MAP:    key array frame, then value array frame
  // Fixed-width elements write their INTERNAL binary repr exactly
  // (IEEE 754 bits for float/double — the FLOAT tier's exact-rendering
  // argument, per element); var-width (string/binary/decimal) are
  // length-prefixed; nested complex types recurse. Base64 keeps the cell
  // free of tabs and backslashes, so the TSV line codec and its sparse
  // line index are untouched.
  private def writeValue(o: java.io.DataOutputStream,
      g: org.apache.spark.sql.catalyst.expressions.SpecializedGetters,
      i: Int, dt: DataType): Unit = dt match {
    case IntegerType | DateType => o.writeInt(g.getInt(i))
    case LongType | TimestampType => o.writeLong(g.getLong(i))
    case org.apache.spark.sql.types.FloatType => o.writeFloat(g.getFloat(i))
    case DoubleType => o.writeDouble(g.getDouble(i))
    case BooleanType => o.writeBoolean(g.getBoolean(i))
    case StringType =>
      val b = g.getUTF8String(i).getBytes
      o.writeInt(b.length); o.write(b)
    case org.apache.spark.sql.types.BinaryType =>
      val b = g.getBinary(i)
      o.writeInt(b.length); o.write(b)
    case d: org.apache.spark.sql.types.DecimalType =>
      val b = g.getDecimal(i, d.precision, d.scale)
        .toJavaBigDecimal.toPlainString
        .getBytes(java.nio.charset.StandardCharsets.UTF_8)
      o.writeInt(b.length); o.write(b)
    case na: org.apache.spark.sql.types.ArrayType =>
      writeArray(o, g.getArray(i), na.elementType)
    case st: StructType => writeStruct(o, g.getStruct(i, st.length), st)
    case mt: org.apache.spark.sql.types.MapType => writeMap(o, g.getMap(i), mt)
    case other => throw new UnsupportedOperationException(s"cell type $other")
  }

  private def readValue(in: java.io.DataInputStream, dt: DataType): Any =
    dt match {
      case IntegerType | DateType => in.readInt()
      case LongType | TimestampType => in.readLong()
      case org.apache.spark.sql.types.FloatType => in.readFloat()
      case DoubleType => in.readDouble()
      case BooleanType => in.readBoolean()
      case StringType =>
        val b = new Array[Byte](in.readInt()); in.readFully(b)
        UTF8String.fromBytes(b)
      case org.apache.spark.sql.types.BinaryType =>
        val b = new Array[Byte](in.readInt()); in.readFully(b)
        b
      case d: org.apache.spark.sql.types.DecimalType =>
        val b = new Array[Byte](in.readInt()); in.readFully(b)
        org.apache.spark.sql.types.Decimal(new java.math.BigDecimal(
          new String(b, java.nio.charset.StandardCharsets.UTF_8)),
          d.precision, d.scale)
      case na: org.apache.spark.sql.types.ArrayType =>
        readArray(in, na.elementType)
      case st: StructType => readStruct(in, st)
      case mt: org.apache.spark.sql.types.MapType => readMap(in, mt)
      case other => throw new UnsupportedOperationException(s"cell type $other")
    }

  private def writeSlots(o: java.io.DataOutputStream,
      g: org.apache.spark.sql.catalyst.expressions.SpecializedGetters,
      n: Int, typeAt: Int => DataType): Unit = {
    o.writeInt(n)
    val bm = new Array[Byte]((n + 7) / 8)
    var i = 0
    while (i < n) {
      if (g.isNullAt(i)) bm(i >> 3) = (bm(i >> 3) | (1 << (i & 7))).toByte
      i += 1
    }
    o.write(bm)
    i = 0
    while (i < n) {
      if (!g.isNullAt(i)) writeValue(o, g, i, typeAt(i))
      i += 1
    }
  }

  private def readSlots(in: java.io.DataInputStream,
      typeAt: Int => DataType): Array[Any] = {
    val n = in.readInt()
    val bm = new Array[Byte]((n + 7) / 8)
    in.readFully(bm)
    val vals = new Array[Any](n)
    var i = 0
    while (i < n) {
      if ((bm(i >> 3) & (1 << (i & 7))) == 0) vals(i) = readValue(in, typeAt(i))
      i += 1
    }
    vals
  }

  private[sources] def writeArray(o: java.io.DataOutputStream,
      arr: org.apache.spark.sql.catalyst.util.ArrayData,
      et: DataType): Unit =
    writeSlots(o, arr, arr.numElements(), _ => et)

  private[sources] def readArray(in: java.io.DataInputStream,
      et: DataType): org.apache.spark.sql.catalyst.util.GenericArrayData =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      readSlots(in, _ => et))

  private[sources] def writeStruct(o: java.io.DataOutputStream,
      row: InternalRow, st: StructType): Unit =
    writeSlots(o, row, st.length, i => st.fields(i).dataType)

  private[sources] def readStruct(in: java.io.DataInputStream,
      st: StructType): InternalRow =
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      readSlots(in, i => st.fields(i).dataType))

  private[sources] def writeMap(o: java.io.DataOutputStream,
      map: org.apache.spark.sql.catalyst.util.MapData,
      mt: org.apache.spark.sql.types.MapType): Unit = {
    writeArray(o, map.keyArray(), mt.keyType)
    writeArray(o, map.valueArray(), mt.valueType)
  }

  private[sources] def readMap(in: java.io.DataInputStream,
      mt: org.apache.spark.sql.types.MapType)
    : org.apache.spark.sql.catalyst.util.ArrayBasedMapData =
    new org.apache.spark.sql.catalyst.util.ArrayBasedMapData(
      readArray(in, mt.keyType), readArray(in, mt.valueType))

  /** Wanted column → physical cell index in one file (−1 = NULL-fill),
    * composing the reader's column pruning with the file's own layout
    * ([[ManifestFile.physIdx]]). `full` must be the schema of the
    * MANIFEST the entry came from (the snapshot it was read under), so a
    * wanted name absent from that schema — added after the snapshot —
    * NULL-fills. Computed once per FILE on the driver, never per line. */
  private[sources] def wantedPhys(full: StructType, wanted: StructType,
      e: ManifestFile): Array[Int] = {
    val byName = full.fieldNames.zipWithIndex.toMap
    wanted.fieldNames.map(n => byName.get(n).map(e.physIdx).getOrElse(-1))
  }

  /** `phys` is the per-file wanted→cell map from [[wantedPhys]]: schema
    * evolution (ADD / DROP COLUMN) without rewriting old files — a −1
    * NULL-fills, everything else reads its recorded cell. */
  private[sources] def parse(line: String, phys: Array[Int],
      wanted: StructType): InternalRow = {
    val cells = line.split("\t", -1)
    InternalRow.fromSeq(wanted.fields.indices.map { i =>
      if (phys(i) < 0) null // column absent from this file's layout
      else {
        val raw = cells(phys(i))
        if (raw == "\\N") null
        else wanted.fields(i).dataType match {
          case LongType => raw.toLong
          case IntegerType => raw.toInt
          case DoubleType => raw.toDouble
          case org.apache.spark.sql.types.FloatType => raw.toFloat
          case d: org.apache.spark.sql.types.DecimalType =>
            org.apache.spark.sql.types.Decimal(
              new java.math.BigDecimal(raw), d.precision, d.scale)
          case BooleanType => raw.toBoolean
          case StringType => UTF8String.fromString(unescape(raw))
          case DateType => raw.toInt
          case TimestampType => raw.toLong
          case org.apache.spark.sql.types.BinaryType =>
            java.util.Base64.getDecoder.decode(raw)
          case a: org.apache.spark.sql.types.ArrayType =>
            readArray(new java.io.DataInputStream(
              new java.io.ByteArrayInputStream(
                java.util.Base64.getDecoder.decode(raw))), a.elementType)
          case st: StructType =>
            readStruct(new java.io.DataInputStream(
              new java.io.ByteArrayInputStream(
                java.util.Base64.getDecoder.decode(raw))), st)
          case mt: org.apache.spark.sql.types.MapType =>
            readMap(new java.io.DataInputStream(
              new java.io.ByteArrayInputStream(
                java.util.Base64.getDecoder.decode(raw))), mt)
          case dt => throw new UnsupportedOperationException(s"type $dt")
        }
      }
    })
  }
}

/** Per-file zone map: [min, max] per column, gathered by the task writer
  * in the same pass that writes the rows. Two stat families:
  *
  *  - `ranges` — numeric-ordered columns (long/int/double, plus
  *    date/timestamp via their internal int-days/long-micros encoding);
  *  - `strRanges` — string columns, bounds in RAW UTF-8 BYTE order (the
  *    same binary order Spark's default UTF8_BINARY collation compares
  *    with, so prune decisions agree with row-level filter semantics),
  *    serialized base64 so bounds may contain any byte. Long bounds are
  *    TRUNCATED to [[ColumnStats.StatMaxBytes]] with WIDENING — lower
  *    bound cut (a prefix sorts ≤ the full string), upper bound cut then
  *    last byte incremented (sorts ≥ the full string; a bound of all 0xff
  *    bytes has no such upper bound and drops the column's stats) — so a
  *    pathological corpus of megabyte keys cannot bloat the manifest, and
  *    every proof below stays sound against the widened range.
  *
  * Conservative by construction — a column absent from the maps never
  * prunes. `incomplete` marks columns (of either family) whose range does
  * NOT describe every row (NULL cells, NaN/Infinity): such a range can
  * still PRUNE (a NULL or NaN row never satisfies a comparison predicate,
  * so "range proves no match" stays sound) but can never PROVE a full-file
  * match for metadata-only DELETE — dropping the file would silently
  * delete the NULL/NaN rows the predicate does not select. Serialized as
  * `name=min,max` pairs joined with `;`, incomplete columns after `#`,
  * string ranges after `$` (column names in this sink are identifier-safe:
  * no `=,;#$` or tabs; booleans carry no stats). */
private[graft] case class ColumnStats(ranges: Map[String, (BigDecimal, BigDecimal)],
    incomplete: Set[String] = Set.empty,
    strRanges: Map[String, (String, String)] = Map.empty,
    bloomsRaw: String = "", ndvRaw: String = "",
    blobsName: String = "", blobsDir: Path = null) {

  private def kv(raw: String): Map[String, String] =
    if (raw.isEmpty) Map.empty
    else raw.split(";").iterator.map { cell =>
      val Array(c, b) = cell.split("=", 2); c -> b
    }.toMap

  /** Per-column bloom REFS, split lazily: either inline base64 (legacy
    * manifests) or `@<slot>` pointers into this file's blobs SIDECAR
    * (`blobs-<dataFile>`) — the round-8 form that keeps multi-KB payloads
    * OUT of the manifest (a 1 M-file manifest stays list-sized; sidecars
    * are shared by every snapshot that references the data file). Use
    * refs for existence checks and metadata maintenance (rename/drop stay
    * manifest-only — slots are positional, names live here); use
    * [[blooms]] only when a payload is actually consulted. */
  lazy val bloomRefs: Map[String, String] = kv(bloomsRaw)
  lazy val ndvRefs: Map[String, String] = kv(ndvRaw)

  /** Sidecar slots, read lazily ONCE per entry and only when some payload
    * is consulted; the file resolves through the shallow-clone chain like
    * data files do. A missing sidecar yields no payloads — absent stats
    * never prune, so the degradation is sound. */
  private lazy val slots: Map[Int, String] =
    if (blobsName.isEmpty || blobsDir == null) Map.empty
    else {
      val p = Manifest.resolveData(Manifest.resolveChain(blobsDir), blobsName)
      if (!Files.exists(p)) Map.empty
      else Files.readAllLines(p).asScala.iterator.filter(_.nonEmpty).map { l =>
        val Array(slot, b64) = l.split("\t", 2); slot.toInt -> b64
      }.toMap
    }
  private def resolved(refs: Map[String, String]): Map[String, String] =
    refs.flatMap { case (c, v) =>
      if (v.startsWith("@")) slots.get(v.drop(1).toInt).map(c -> _)
      else Some(c -> v)
    }
  /** Materialized per-column bloom payloads (sidecar-loading — see
    * [[bloomRefs]] for the cheap existence view). */
  lazy val blooms: Map[String, String] = resolved(bloomRefs)
  /** Materialized per-column KMV distinct sketches. */
  lazy val ndvSketches: Map[String, String] = resolved(ndvRefs)

  /** Replace the bloom REF set (rename/drop column maintenance — pass
    * refs, so sidecar pointers survive and the edit stays metadata-only). */
  def withBlooms(m: Map[String, String]): ColumnStats =
    copy(bloomsRaw = ColumnStats.renderBlooms(m))
  /** Replace the NDV REF set (rename/drop column maintenance). */
  def withNdv(m: Map[String, String]): ColumnStats =
    copy(ndvRaw = ColumnStats.renderBlooms(m))
  def render: String = {
    val r = ranges.toSeq.sortBy(_._1)
      .map { case (c, (lo, hi)) => s"$c=$lo,$hi" }.mkString(";")
    val withInc =
      if (incomplete.isEmpty) r
      else r + "#" + incomplete.toSeq.sorted.mkString(",")
    val withStr =
      if (strRanges.isEmpty) withInc
      else withInc + "$" + strRanges.toSeq.sortBy(_._1)
        .map { case (c, (lo, hi)) => s"$c=$lo,$hi" }.mkString(";")
    // '^', '%' and '&' never occur in base64 or identifier-safe column
    // names, so the NDV / bloom / blobs-file sections are unambiguous and
    // older manifests (carrying none of them) still parse
    val withNdvSec = if (ndvRaw.isEmpty) withStr else withStr + "^" + ndvRaw
    val withBloomSec =
      if (bloomsRaw.isEmpty) withNdvSec else withNdvSec + "%" + bloomsRaw
    if (blobsName.isEmpty) withBloomSec else withBloomSec + "&" + blobsName
  }
}

private[graft] object ColumnStats {
  val empty: ColumnStats = ColumnStats(Map.empty)

  /** Stats-line parses since JVM start — the laziness contract's test
    * hook (a no-filter plan must not move it), not a metric. */
  private[graft] val parseCount = new java.util.concurrent.atomic.AtomicLong

  private[sources] def renderBlooms(m: Map[String, String]): String =
    m.toSeq.sortBy(_._1).map { case (c, b) => s"$c=$b" }.mkString(";")

  /** String zone-map bounds are capped at this many UTF-8 bytes (with
    * sound widening) — the Delta/Iceberg stats-truncation trade. */
  val StatMaxBytes = 64

  private[sources] def b64(b: Array[Byte]): String =
    java.util.Base64.getEncoder.encodeToString(b)
  private[sources] def unb64(s: String): Array[Byte] =
    java.util.Base64.getDecoder.decode(s)

  /** Unsigned lexicographic byte order — UTF-8 byte order, i.e. code-point
    * order, the order UTF8_BINARY string comparisons use. */
  private[sources] def cmpBytes(a: Array[Byte], b: Array[Byte]): Int = {
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) {
      val d = (a(i) & 0xff) - (b(i) & 0xff)
      if (d != 0) return d
      i += 1
    }
    a.length - b.length
  }

  /** Widening truncation of a LOWER bound: a strict prefix sorts ≤ the
    * full string in byte order, so the cut bound is still a lower bound. */
  private[sources] def truncLower(b: Array[Byte]): Array[Byte] =
    if (b.length <= StatMaxBytes) b else java.util.Arrays.copyOf(b, StatMaxBytes)

  /** Widening truncation of an UPPER bound: cut, then increment the last
    * non-0xff byte and drop everything after it — the result sorts > any
    * string with the original prefix. None when every byte is 0xff (no
    * finite upper bound exists at this width → caller drops the stats). */
  private[sources] def truncUpper(b: Array[Byte]): Option[Array[Byte]] =
    if (b.length <= StatMaxBytes) Some(b)
    else {
      val t = java.util.Arrays.copyOf(b, StatMaxBytes)
      var i = StatMaxBytes - 1
      while (i >= 0 && (t(i) & 0xff) == 0xff) i -= 1
      if (i < 0) None
      else { t(i) = ((t(i) & 0xff) + 1).toByte; Some(java.util.Arrays.copyOf(t, i + 1)) }
    }

  def parse(s: String, dir: Path = null): ColumnStats =
    if (s.isEmpty) empty
    else {
      parseCount.incrementAndGet()
      val (nonBlobs, blobsPart) = s.split("&", 2) match {
        case Array(m, bp) => (m, bp)
        case Array(m) => (m, "")
      }
      val (nonBloom, bloomPart) = nonBlobs.split("%", 2) match {
        case Array(m, bp) => (m, bp)
        case Array(m) => (m, "")
      }
      val (nonNdv, ndvPart) = nonBloom.split("\\^", 2) match {
        case Array(m, np) => (m, np)
        case Array(m) => (m, "")
      }
      val (mainPart, strPart) = nonNdv.split("\\$", 2) match {
        case Array(m, sp) => (m, sp)
        case Array(m) => (m, "")
      }
      val (rangesPart, incPart) = mainPart.split("#", 2) match {
        case Array(r, i) => (r, i.split(",").filter(_.nonEmpty).toSet)
        case Array(r) => (r, Set.empty[String])
      }
      def pairs(part: String): Seq[(String, (String, String))] =
        if (part.isEmpty) Seq.empty
        else part.split(";").toSeq.map { cell =>
          val Array(c, mm) = cell.split("=", 2)
          val Array(lo, hi) = mm.split(",", 2)
          c -> ((lo, hi))
        }
      val ranges = pairs(rangesPart)
        .map { case (c, (lo, hi)) => c -> ((BigDecimal(lo), BigDecimal(hi))) }.toMap
      ColumnStats(ranges, incPart, pairs(strPart).toMap, bloomPart, ndvPart,
        blobsPart, dir)
    }
}

/** One committed data file: name, row count, zone map, and its LAYOUT
  * under the manifest's schema. Two layout tiers:
  *  - `colMap = None` (every file until a DROP COLUMN touches it): the
  *    file stores the first `cols` schema columns positionally — `cols` <
  *    schema width for files committed before an `ALTER TABLE ADD COLUMN`,
  *    and readers NULL-fill the tail.
  *  - `colMap = Some(m)`: `m(i)` is the physical cell index of schema
  *    column `i` in this file, or −1 to NULL-fill — what an `ALTER TABLE
  *    DROP COLUMN` of a NON-tail column leaves behind (the file still
  *    stores the dropped cell; the map skips over it). Columns past
  *    `m.length` NULL-fill, so a later ADD COLUMN needs no entry rewrite.
  */
private[graft] class ManifestFile(val name: String, val rows: Long,
    statsThunk: () => ColumnStats, val cols: Int,
    val colMap: Option[Seq[Int]] = None, rawStats: String = null,
    val dv: Option[(String, Long)] = None, val indexRaw: String = null) {
  /** Sparse line index, serialized as [stride, offset0, offset1, …]:
    * offset j is the first byte of line j·stride (offset0 is always 0),
    * decoded lazily — what lets the scan split this file into byte-range
    * partitions with KNOWN line numbers. Empty = unindexed legacy file
    * (never split). */
  lazy val lineIndex: Array[Long] =
    if (indexRaw == null || indexRaw.isEmpty) Array.emptyLongArray
    else {
      val bytes = java.util.Base64.getDecoder.decode(indexRaw)
      val bb = java.nio.ByteBuffer.wrap(bytes)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      Array.fill(bytes.length / 8)(bb.getLong)
    }
  /** Rows a reader returns: physical rows minus the deletion vector's
    * ordinals. `rows` itself stays the PHYSICAL line count — zone maps,
    * layout decisions and the reader's ordinal space are per physical
    * row. */
  def liveRows: Long = rows - dv.map(_._2).getOrElse(0L)
  /** Parsed on FIRST consultation, once per entry: a no-filter plan over
    * a million-file manifest parses no stats at all, and a filtered plan
    * pays BigDecimal range parsing only from here on. */
  lazy val stats: ColumnStats = statsThunk()
  /** The stats field as the manifest line stores it — lets a commit
    * re-render untouched entries without forcing their parse. */
  def renderStats: String = if (rawStats != null) rawStats else stats.render
  /** This file's blobs sidecar (bloom/NDV payloads), extracted from the
    * raw stats string WITHOUT forcing a parse — vacuum reachability and
    * copy-on-write moves need only the name. */
  def blobsFile: Option[String] = {
    val s = renderStats
    val i = s.lastIndexOf('&')
    if (i < 0) None else Some(s.substring(i + 1)).filter(_.nonEmpty)
  }
  /** Physical cell index storing schema column `schemaPos`; −1 = NULL. */
  def physIdx(schemaPos: Int): Int = colMap match {
    case Some(m) => if (schemaPos < m.length) m(schemaPos) else -1
    case None => if (schemaPos < cols) schemaPos else -1
  }
  def copy(name: String = this.name, rows: Long = this.rows,
      stats: ColumnStats = null, cols: Int = this.cols,
      colMap: Option[Seq[Int]] = this.colMap,
      dv: Option[(String, Long)] = this.dv): ManifestFile =
    // the line index describes the physical file — metadata edits
    // (stats/colmap/dv) never invalidate it
    if (stats == null)
      new ManifestFile(name, rows, statsThunk, cols, colMap, rawStats, dv, indexRaw)
    else new ManifestFile(name, rows, () => stats, cols, colMap, null, dv, indexRaw)
  override def toString: String =
    s"ManifestFile($name, $rows rows, cols=$cols, colMap=$colMap, dv=$dv)"
}

private[graft] object ManifestFile {
  def apply(name: String, rows: Long, stats: ColumnStats, cols: Int,
      colMap: Option[Seq[Int]] = None): ManifestFile =
    new ManifestFile(name, rows, () => stats, cols, colMap)
  /** Entry from a manifest line's raw stats field — parsed lazily. `dir`
    * is the table directory blobs sidecars resolve against (null for
    * legacy inline-stats entries, which never consult one). */
  def raw(name: String, rows: Long, statsRaw: String, cols: Int,
      colMap: Option[Seq[Int]] = None,
      dv: Option[(String, Long)] = None, indexRaw: String = null,
      dir: Path = null): ManifestFile =
    new ManifestFile(name, rows, () => ColumnStats.parse(statsRaw, dir), cols,
      colMap, statsRaw, dv, indexRaw)
}

/** `_manifest` contents: schema + optional table properties + the exact
  * committed file list (+ per-file zone maps and widths). Stored as simple
  * line-oriented text (no JSON dependency): first line the schema as
  * `name:type` pairs; an optional `!`-prefixed properties line
  * (`!key=value` pairs, tab-joined — data file names start with `part-`,
  * never `!`, so the line is unambiguous); then one
  * `fileName\trowCount[\tstats[\tcols]]` line per data file — the third
  * and fourth fields are optional, so pre-zone-map and pre-evolution
  * manifests still parse (a legacy entry's width defaults to ITS
  * manifest's schema width, which is exactly the schema it was written
  * under). */
private[graft] case class Manifest(schema: StructType, entries: Seq[ManifestFile],
    props: Map[String, String] = Map.empty,
    segments: Seq[(String, Seq[ManifestFile])] = Seq.empty) {
  def files: Seq[(String, Long)] = entries.map(e => (e.name, e.rows))
}

private[graft] object Manifest {
  private val SimpleTypeNames: Map[DataType, String] = Map(
    LongType -> "long", IntegerType -> "int", DoubleType -> "double",
    org.apache.spark.sql.types.FloatType -> "float",
    BooleanType -> "boolean", StringType -> "string",
    DateType -> "date", TimestampType -> "timestamp",
    org.apache.spark.sql.types.BinaryType -> "binary")
  private val SimpleByName = SimpleTypeNames.map(_.swap)
  private val DecimalName = """decimal\((\d+),(\d+)\)""".r
  private val ArrayName = """array<(.+)>""".r

  /** The codec's type vocabulary: the simple types plus parameterized
    * DECIMAL(p,s) — cells render as plain decimal strings, so a DECIMAL
    * round-trips exactly and a widened precision re-reads the same cells
    * unchanged — plus the full COMPLEX-TYPE tier (each rendered as a
    * base64 frame — [[GraftManifestSink.render]]):
    * `array<elem>`, `struct<f1:T1,f2:T2,…>`, `map<K,V>`, `binary`
    * (recursively composable; a `!` suffix on an element/field/value type
    * marks it non-nullable). The engine's own lakehouse tier can hold
    * every LLM-pipeline shape: `embedding array<float>`, opaque
    * image/audio payloads, `meta struct<width:int,height:int>`,
    * `headers map<string,string>`. Struct field names must be free of
    * the grammar's delimiters (`:<>,!` and tab). */
  private def TypeNames(dt: DataType): String = dt match {
    case d: org.apache.spark.sql.types.DecimalType =>
      s"decimal(${d.precision},${d.scale})"
    case a: org.apache.spark.sql.types.ArrayType =>
      s"array<${TypeNames(a.elementType)}${if (a.containsNull) "" else "!"}>"
    case st: StructType =>
      val fs = st.fields.map { f =>
        if (f.name.exists(":<>,!\t".contains(_)))
          throw new UnsupportedOperationException(
            s"manifest codec: struct field name '${f.name}' carries a " +
              "type-grammar delimiter (:<>,! or tab)")
        s"${f.name}:${TypeNames(f.dataType)}${if (f.nullable) "" else "!"}"
      }
      s"struct<${fs.mkString(",")}>"
    case mt: org.apache.spark.sql.types.MapType =>
      s"map<${TypeNames(mt.keyType)},${TypeNames(mt.valueType)}" +
        s"${if (mt.valueContainsNull) "" else "!"}>"
    case other => SimpleTypeNames.getOrElse(other,
      throw new UnsupportedOperationException(s"manifest codec: type $other"))
  }

  /** Split a type-argument list on commas at angle-bracket depth 0. */
  private def splitTypeArgs(s: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    var depth = 0; var start = 0; var i = 0
    while (i < s.length) {
      s.charAt(i) match {
        case '<' => depth += 1
        case '>' => depth -= 1
        case ',' if depth == 0 => out += s.substring(start, i); start = i + 1
        case _ =>
      }
      i += 1
    }
    out += s.substring(start)
    out.result()
  }

  private def ByName(s0: String): DataType = {
    val s = s0.trim
    def inner(of: String): String = s.substring(of.length, s.length - 1)
    def nn(t: String): Boolean = t.endsWith("!")
    def strip(t: String): String = t.stripSuffix("!")
    s match {
      case DecimalName(p, sc) =>
        org.apache.spark.sql.types.DecimalType(p.toInt, sc.toInt)
      case _ if s.startsWith("array<") && s.endsWith(">") =>
        val e = inner("array<")
        org.apache.spark.sql.types.ArrayType(ByName(strip(e)), !nn(e))
      case _ if s.startsWith("map<") && s.endsWith(">") =>
        splitTypeArgs(inner("map<")) match {
          case Seq(k, v) =>
            org.apache.spark.sql.types.MapType(ByName(k), ByName(strip(v)), !nn(v))
          case other => throw new UnsupportedOperationException(
            s"manifest codec: map takes 2 type args, got ${other.length} in $s")
        }
      case _ if s.startsWith("struct<") && s.endsWith(">") =>
        StructType(splitTypeArgs(inner("struct<")).filter(_.nonEmpty).map { f =>
          val i = f.indexOf(':')
          if (i < 0) throw new UnsupportedOperationException(
            s"manifest codec: struct field '$f' lacks a :type")
          val t = f.substring(i + 1)
          StructField(f.substring(0, i), ByName(strip(t)), nullable = !nn(t))
        })
      case other => SimpleByName.getOrElse(other,
        throw new UnsupportedOperationException(
          s"manifest codec: type name $other"))
    }
  }

  /** The newest snapshot committed at or before epoch-millis `cutoff`
    * (commit time = the archived manifest's mtime — the same authority
    * the read-side TIMESTAMP AS OF uses); None when every snapshot is
    * newer. */
  private[sources] def versionAtOrBefore(dir: Path, cutoff: Long): Option[Int] =
    snapshotVersions(dir).reverse.find { v =>
      Files.getLastModifiedTime(dir.resolve(s"_manifest.v$v")).toMillis <= cutoff
    }

  /** Manifest property recording the highest streaming epoch committed to
    * this table — the idempotence watermark [[ManifestStreamingWrite]]
    * checks on replay. */
  private[sources] val LastEpochProp = "lastEpoch"

  /** Manifest property naming the CDC sub-table (`_cdc_*`) holding the
    * EXACT change rows of the commit that archived this snapshot — set by
    * the row-level DML publishes of a `TBLPROPERTIES ('changeFeed' =
    * 'true')` table, INHERITED (not re-set) by every other commit.
    * [[ManifestTable.changes]] attributes a CDC dir to a commit iff the
    * value CHANGED from the previous snapshot — inheritance self-heals
    * without prop-stripping on appends/OPTIMIZE. Clone / restore /
    * fast-forward strip it (their change semantics are the read-time
    * diff's, not some older commit's recorded rows). */
  private[graft] val CdcDirProp = "cdcDir"

  /** Manifest property stamping a commit as NO-DATA-CHANGE (Delta's
    * `dataChange=false` file flag, lifted to commit granularity — this
    * engine's layout ops are whole commits): OPTIMIZE and REORG APPLY
    * (PURGE) rearrange bytes without changing table CONTENT, so the
    * change feed must emit NOTHING for them instead of falling into the
    * rewrite-diff branch (streaming CDF used to refuse such commits on
    * changeFeed tables, permanently wedging the stream — the table
    * property was already set; there was nothing else to enable). The
    * value is a fresh UUID per layout commit: like [[CdcDirProp]], the
    * prop is INHERITED by later commits, and a commit is a layout commit
    * iff the value CHANGED from its predecessor. */
  private[graft] val DataChangeStampProp = "dataChangeStamp"
  private[graft] def noDataChangeStamp(): Map[String, String] =
    Map(DataChangeStampProp ->
      java.util.UUID.randomUUID().toString.take(13))

  /** Manifest property recording the table's identity partition columns
    * (comma-joined; column names in this sink are identifier-safe).
    * Partitioning here is a CLUSTERING contract, not a directory layout:
    * every write requests a range distribution + sort on these columns
    * ([[ManifestWrite]]), so each committed file covers a narrow key range
    * and the ordinary zone maps prune partition predicates file-by-file —
    * Delta liquid-clustering-style partitioning without the small-file
    * explosion a directory-per-value layout hits at 100 TB. */
  private[sources] val PartitionColsProp = "partitionCols"

  /** The table's declared partition columns, from its current manifest. */
  private[graft] def partitionCols(dir: Path): Seq[String] =
    read(dir).flatMap(_.props.get(PartitionColsProp))
      .map(_.split(",").toSeq.filter(_.nonEmpty)).getOrElse(Seq.empty)

  /** GENERATED COLUMNS (Delta's `GENERATED ALWAYS AS (expr)`): one prop
    * per column, `gencol.<name> = <expr sql>`. The stored schema is plain —
    * generation is a TABLE contract, not a field annotation — and writes
    * that omit the column compute it through [[graft.plans.ResolveGeneratedWrites]]
    * (the injected resolution rule); explicit values are validated by the
    * auto-registered `check.gen_<name>` property (`col <=> CAST(expr AS t)`),
    * which also blocks RENAME/DROP of the column or its sources through the
    * existing CHECK-reference guards. */
  private[graft] val GenColPrefix = "gencol."

  /** IDENTITY COLUMNS (`GENERATED ALWAYS/BY DEFAULT AS IDENTITY`): one
    * prop per column, `idcol.<name> = start,step,allowExplicitInsert`,
    * plus a monotone high-water mark `idhwm.<name>` advanced at every
    * commit from the committed files' OWN zone maps (zero extra work —
    * the writer already records per-file min/max). Values are unique and
    * monotone per partition with GAPS (the Delta identity contract):
    * id = base + step · monotonically_increasing_id(), assigned in the
    * write's projection, fully distributed. */
  private[graft] val IdColPrefix = "idcol."
  private[graft] val IdHwmPrefix = "idhwm."

  /** COPY INTO's loaded-file log: the prop names a `copylog-*.txt`
    * sidecar (one already-ingested source path per line). The sidecar is
    * content-complete per commit — each COPY writes a NEW sidecar holding
    * the full union and swaps the prop IN THE SAME manifest commit as the
    * data entries, so idempotency and data are atomic: a crash before the
    * swap leaves an orphan sidecar (vacuumable) and no state change, and
    * a re-run re-copies nothing it didn't commit. */
  private[graft] val CopyLogProp = "copy.log"

  /** ROW TRACKING (`TBLPROPERTIES('rowTracking'='true')` — Delta's row
    * tracking / Iceberg v3 row lineage): every row gets a STABLE logical
    * id surfaced as the `_row_id` metadata column, `base(file) + _pos`.
    * Bases are per-entry props (`rowbase.<entry> = b`) assigned at commit
    * from a monotone high-water mark (`rowhwm`); files are immutable and
    * deletion vectors never move surviving rows, so ids survive appends,
    * DV DELETEs, and DV UPDATE/MERGE of untouched rows (updated rows
    * re-land in new files with fresh ids — the Iceberg rule). Layout
    * rewrites (OPTIMIZE, REORG PURGE, copy-on-write DML) would REASSIGN
    * ids, so they refuse on a tracking table instead of silently breaking
    * every downstream consumer keyed on `_row_id`. Bases of entries no
    * longer in the CURRENT manifest are dropped at commit (archived
    * snapshots keep their own props, so time travel still resolves). */
  private[graft] val RowBasePrefix = "rowbase."
  private[graft] val RowHwmProp = "rowhwm"
  private[graft] val RowTrackingProp = GraftCatalog.TblPropPrefix + "rowTracking"

  private[graft] def rowTracking(props: Map[String, String]): Boolean =
    props.get(RowTrackingProp).contains("true")

  /** Final props for a commit publishing `entries`: assign a base to every
    * base-less entry (hwm order = entry order), advance the hwm, and drop
    * bases of entries that left the manifest. Identity when tracking is
    * off. */
  private[graft] def sealRowTracking(props: Map[String, String],
      entries: Seq[ManifestFile]): Map[String, String] = {
    if (!rowTracking(props)) props
    else {
      val names = entries.map(_.name).toSet
      val kept = props.filterNot { case (k, _) =>
        k.startsWith(RowBasePrefix) && !names(k.stripPrefix(RowBasePrefix)) }
      var hwm = props.get(RowHwmProp).map(_.toLong).getOrElse(0L)
      val fresh = entries.filterNot(e => kept.contains(RowBasePrefix + e.name))
        .map { e => val b = hwm; hwm += e.rows; (RowBasePrefix + e.name) -> b.toString }
      kept ++ fresh + (RowHwmProp -> hwm.toString)
    }
  }

  /** Per-entry row-id bases of a props map. */
  private[graft] def rowBases(props: Map[String, String]): Map[String, Long] =
    props.collect { case (k, v) if k.startsWith(RowBasePrefix) =>
      k.stripPrefix(RowBasePrefix) -> v.toLong }

  /** DEFAULT COLUMN VALUES (`c INT DEFAULT 42`): one prop per column,
    * `defcol.<name> = <literal sql>`. Restricted to CONSTANT expressions
    * (the Delta rule — a non-deterministic default would make INSERT
    * retries non-idempotent); surfaced through [[ManifestTable.columns]]
    * so Spark's own output resolution fills omitted columns, DEFAULT
    * keywords, and `SET c = DEFAULT` assignments. Applies to FUTURE
    * writes only: rows committed before a SET DEFAULT keep their values,
    * and ADD COLUMN refuses a default outright (existing rows NULL-fill;
    * also the Delta behavior). */
  private[graft] val DefColPrefix = "defcol."

  /** Default-value specs of a props map: name → literal SQL. */
  private[graft] def defaultCols(props: Map[String, String]): Map[String, String] =
    props.collect { case (k, v) if k.startsWith(DefColPrefix) =>
      k.stripPrefix(DefColPrefix) -> v }

  /** Parse + constant-fold a default's SQL to the value of the declared
    * type. Throws (in DEFAULT terms) when the expression isn't a constant
    * or doesn't cast — used at DDL time so a bad default fails the CREATE
    * /ALTER, never a future INSERT. */
  private[graft] def foldDefault(sql: String, dt: DataType, col: String): Any = {
    import org.apache.spark.sql.catalyst.expressions.{Cast, Literal}
    val parsed =
      try org.apache.spark.sql.SparkSession.active.sessionState.sqlParser
        .parseExpression(sql)
      catch { case e: Exception => throw new IllegalArgumentException(
        s"DEFAULT for column $col: cannot parse '$sql': ${e.getMessage}") }
    val cast = Cast(parsed, dt, Some(java.time.ZoneOffset.UTC.getId))
    if (!parsed.resolved || !cast.foldable)
      throw new IllegalArgumentException(
        s"DEFAULT for column $col: '$sql' is not a constant expression — " +
          "defaults must be literals (functions and column references are " +
          "not supported)")
    try cast.eval(org.apache.spark.sql.catalyst.InternalRow.empty)
    catch { case e: Exception => throw new IllegalArgumentException(
      s"DEFAULT for column $col: '$sql' does not cast to ${dt.simpleString}: " +
        e.getMessage) }
  }

  private[graft] case class IdentitySpec(start: Long, step: Long,
      allowExplicit: Boolean) {
    def render: String = s"$start,$step,$allowExplicit"
  }

  /** Generated-column specs of a props map: name → generation expr SQL. */
  private[graft] def generatedCols(props: Map[String, String]): Map[String, String] =
    props.collect { case (k, v) if k.startsWith(GenColPrefix) =>
      k.stripPrefix(GenColPrefix) -> v }

  /** Identity-column specs of a props map. */
  private[graft] def identityCols(props: Map[String, String]): Map[String, IdentitySpec] =
    props.collect { case (k, v) if k.startsWith(IdColPrefix) =>
      val Array(s, st, ae) = v.split(",", 3)
      k.stripPrefix(IdColPrefix) -> IdentitySpec(s.toLong, st.toLong, ae.toBoolean) }

  /** Identity bookkeeping for a commit: the advanced high-water marks,
    * read from the committed files' OWN zone maps (the writer already
    * records exact per-file min/max — zero extra work), plus the
    * duplicate-range guard: a strict (ALWAYS) identity write planned its
    * base from the hwm at ANALYSIS time; if the committed hwm has since
    * moved past that base (a concurrent identity writer won the race),
    * publishing would co-commit overlapping id ranges — fail the loser
    * loudly (the staged files drop, the table is untouched). BY DEFAULT
    * tables accept arbitrary explicit values, so they advance the hwm but
    * never collision-check. */
  private[sources] def identityCommitProps(prev: Map[String, String],
      committed: Seq[ManifestFile]): Map[String, String] = {
    identityCols(prev).flatMap { case (c, spec) =>
      val ranges = committed.filter(_.rows > 0).flatMap(_.stats.ranges.get(c))
      if (ranges.isEmpty) None
      else {
        val lo = ranges.map(_._1).min
        val hi = ranges.map(_._2).max
        val hwm = prev.get(IdHwmPrefix + c).map(BigDecimal(_))
        if (!spec.allowExplicit) hwm.foreach { h =>
          val collided = if (spec.step > 0) lo <= h else hi >= h
          if (collided) throw new java.util.ConcurrentModificationException(
            s"identity collision on column $c: this write assigned [$lo, $hi] " +
              s"but the committed high-water mark is already $h — a concurrent " +
              "writer advanced the sequence after this write planned its base; " +
              "re-run the insert")
        }
        val next = if (spec.step > 0) hwm.map(_ max hi).getOrElse(hi)
                   else hwm.map(_ min lo).getOrElse(lo)
        Some(IdHwmPrefix + c -> next.toBigInt.toString)
      }
    }
  }

  /** The CLUSTER BY spec of a props map, when the table declared one
    * (stored as a `cluster_by(a,b)` rendering in the transforms prop). */
  private[graft] def clusterByCols(props: Map[String, String]): Option[Seq[String]] =
    props.get(PartitionTransformsProp).flatMap { ts =>
      ts.split(";").collectFirst {
        case s if s.startsWith("cluster_by(") =>
          s.stripPrefix("cluster_by(").stripSuffix(")")
            .split(",").toSeq.filter(_.nonEmpty)
      }
    }

  /** Manifest property recording the user's DECLARED partition transforms
    * verbatim (`days(ts)`, `bucket(16,id)`; ';'-joined — bucket renders
    * contain commas), present only when some transform is non-identity.
    * Layout derives from [[PartitionColsProp]] (the transforms' source
    * columns); this prop exists so DESCRIBE / SHOW CREATE reproduce the
    * original DDL. */
  private[sources] val PartitionTransformsProp = "partitionTransforms"

  /** Declared transform renderings, when any non-identity one exists. */
  private[sources] def partitionTransforms(dir: Path): Option[Seq[String]] =
    read(dir).flatMap(_.props.get(PartitionTransformsProp))
      .map(_.split(";").toSeq.filter(_.nonEmpty))

  private val BucketRender = """bucket\((\d+),([^)]+)\)""".r

  /** PARTITION EVOLUTION (`ALTER TABLE … SET PARTITIONING`): replace the
    * table's clustering contract in one metadata-only swap. Sound with
    * zero data movement BECAUSE partitioning here is a clustering
    * contract, not a directory layout: old files keep their old
    * clustering and the zone maps/blooms still prune them exactly as
    * before; only NEW writes follow the new transforms. A changed bucket
    * count never mislabels old files — purity tags carry their count
    * ([[bucketStatKey]]), so stale tags self-invalidate and the table
    * simply withholds SPJ until an OPTIMIZE re-tags every file. */
  private[graft] def setPartitioning(dir: Path, partCols: Seq[String],
      transforms: Seq[String]): Unit = ManifestLock.withLock(dir) {
    val m = read(dir).getOrElse(throw new IllegalStateException(
      s"SET PARTITIONING: no manifest at $dir"))
    Manifest.write(dir, m.copy(props =
      m.props - PartitionColsProp - PartitionTransformsProp ++
        GraftCatalog.partitionProps(partCols, transforms)))
  }

  /** Pseudo-column key under which a BUCKET-PURE file records its bucket id
    * in the ordinary zone-map ranges (`lo == hi` == the id). `@` can never
    * appear in a data column's name (the codec requires identifier-safe
    * names), so the key never collides, and rename/drop stats maintenance —
    * keyed by real column names — never touches it. The key CARRIES the
    * bucket count AND the bucket column (`@bucket16:id`), so if partition
    * evolution ever changes either — same count over a DIFFERENT column is
    * the subtle case — every stale tag self-invalidates (the scan looks up
    * the key for ITS count+column) instead of silently mislabeling files as
    * pure in a column they were never hashed on. A file without the key
    * (pre-bucketing commit, path-addressed append missing the column)
    * simply withholds the table's SPJ claim; never unsound. */
  private[sources] def bucketStatKey(n: Int, col: String): String =
    s"@bucket$n:${col.toLowerCase(java.util.Locale.ROOT)}"

  /** The table's `bucket(n, col)` transform, when it declares EXACTLY one
    * bucket transform — the layout contract behind bucket-pure files and
    * storage-partitioned joins. Parsed from a manifest's props (works for
    * scratch manifests and snapshots alike, no dir round-trip). */
  private[sources] def bucketSpec(props: Map[String, String]): Option[(Int, String)] =
    props.get(PartitionTransformsProp).flatMap { ts =>
      ts.split(";").toSeq.collect { case BucketRender(n, c) => (n.toInt, c) } match {
        case Seq(one) => Some(one)
        case _ => None // zero or several bucket transforms: no SPJ contract
      }
    }

  /** Manifest property recording the directory a SHALLOW CLONE was taken
    * from: entries whose data file is absent locally resolve against the
    * clone chain (clone-of-clone walks transitively, cycle-bounded).
    * Copy-on-write ops rewrite locally and drop the reference, so clones
    * diverge file-by-file without ever touching the source. Caveat
    * (Delta's own): VACUUM on the SOURCE can reap files an outstanding
    * clone still references — clones pin nothing across directories. */
  private[sources] val CloneSourceProp = "cloneSource"

  /** All-nullable view of a write schema — what a path-addressed FIRST
    * commit stores (see the commit sites): NOT NULL is a DDL-declared
    * contract, not a property inherited from one batch's tuple encoding. */
  private[sources] def relaxNullability(s: StructType): StructType =
    StructType(s.fields.map(_.copy(nullable = true)))

  /** The directory chain data-file names resolve against: this table's
    * dir, then each `cloneSource` ancestor (bounded against cycles). */
  private[graft] def resolveChain(dir: Path): Seq[Path] = {
    val chain = Seq.newBuilder[Path]
    var d = dir
    var depth = 0
    while (depth < 16) {
      chain += d
      read(d).flatMap(_.props.get(CloneSourceProp)) match {
        case Some(src) => d = Paths.get(src); depth += 1
        case None => depth = 16
      }
    }
    chain.result()
  }

  /** Resolve one data-file name against the chain; falls back to the local
    * path (letting the read fail with the honest location) when no link
    * holds the file. */
  private[graft] def resolveData(chain: Seq[Path], name: String): Path =
    chain.map(_.resolve(name)).find(Files.exists(_))
      .getOrElse(chain.head.resolve(name))

  /** The user property naming bloom-filter columns, as stored (TBLPROPERTIES
    * key `bloom.columns` under the catalog's `tbl.` prefix). */
  private[sources] val BloomColsProp = "tbl.bloom.columns"

  /** Columns to build per-file blooms for ([[FileBloom]]), from the current
    * manifest. Missing/unsupported columns are skipped by the writer —
    * absent stats never prune, so a lagging config is sound. */
  private[sources] def bloomCols(dir: Path): Seq[String] =
    read(dir).flatMap(_.props.get(BloomColsProp))
      .map(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty)).getOrElse(Seq.empty)

  /** The user property naming NDV-sketch columns (TBLPROPERTIES key
    * `ndv.columns`) — [[KmvSketch]] distinct-count sketches feed
    * `ColumnStatistics.distinctCount` for CBO. Same lagging-config
    * soundness as blooms: a file without a sketch simply withholds the
    * table's NDV claim. */
  private[sources] val NdvColsProp = "tbl.ndv.columns"

  /** Columns to build per-file KMV sketches for, from the current manifest. */
  private[sources] def ndvCols(dir: Path): Seq[String] =
    read(dir).flatMap(_.props.get(NdvColsProp))
      .map(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty)).getOrElse(Seq.empty)

  /** Types the TSV codec + zone maps support — the gate `ALTER TABLE ADD
    * COLUMN` checks before widening a schema. */
  private[sources] def supportedType(dt: DataType): Boolean =
    SimpleTypeNames.contains(dt) ||
      dt.isInstanceOf[org.apache.spark.sql.types.DecimalType] ||
      (dt match {
        case a: org.apache.spark.sql.types.ArrayType =>
          supportedType(a.elementType)
        case st: StructType =>
          st.fields.forall(f => supportedType(f.dataType) &&
            !f.name.exists(":<>,!\t".contains(_)))
        case mt: org.apache.spark.sql.types.MapType =>
          supportedType(mt.keyType) && supportedType(mt.valueType)
        case _ => false
      })

  /** One entry line → [[ManifestFile]]. Field 5 is the cell map ('-' =
    * prefix layout), field 6 the deletion vector as `sidecar:count` — both
    * optional, so older manifests parse. */
  private def entryOf(l: String, schemaLen: Int, dir: Path): ManifestFile = {
    def cmap(mp: String): Option[Seq[Int]] =
      if (mp == "-") None else Some(mp.split(",").toSeq.map(_.toInt))
    def dvOf(s: String): Option[(String, Long)] =
      if (s == "-") None
      else { val Array(f, c) = s.split(":", 2); Some((f, c.toLong)) }
    l.split("\t") match {
      case Array(f, n) => ManifestFile(f, n.toLong, ColumnStats.empty, schemaLen)
      case Array(f, n, st) => ManifestFile.raw(f, n.toLong, st, schemaLen,
        dir = dir)
      case Array(f, n, st, c) => ManifestFile.raw(f, n.toLong, st, c.toInt,
        dir = dir)
      case Array(f, n, st, c, mp) => ManifestFile.raw(f, n.toLong, st,
        c.toInt, cmap(mp), dir = dir)
      case Array(f, n, st, c, mp, dvs) => ManifestFile.raw(f, n.toLong, st,
        c.toInt, cmap(mp), dvOf(dvs), dir = dir)
      case Array(f, n, st, c, mp, dvs, idx) => ManifestFile.raw(f, n.toLong, st,
        c.toInt, cmap(mp), dvOf(dvs), idx, dir = dir)
    }
  }

  /** One [[ManifestFile]] → its manifest/segment line (the inverse of
    * [[entryOf]]; untouched entries re-render byte-identically via the raw
    * stats passthrough — what lets commits prove a segment unchanged). */
  private def entryLine(e: ManifestFile): String = {
    val hasIdx = e.indexRaw != null && e.indexRaw.nonEmpty
    val mapField = e.colMap.map(_.mkString(","))
      .getOrElse(if (e.dv.isDefined || hasIdx) "-" else "")
    val dvField = e.dv.map { case (f, c) => s"$f:$c" }
      .getOrElse(if (hasIdx) "-" else "")
    s"${e.name}\t${e.rows}\t${e.renderStats}\t${e.cols}" +
      (if (mapField.nonEmpty) s"\t$mapField" else "") +
      (if (dvField.nonEmpty) s"\t$dvField" else "") +
      (if (hasIdx) s"\t${e.indexRaw}" else "")
  }

  /** Segment cache: published `seg-*.list` files are immutable, but the
    * PATH is not unique forever (DROP TABLE + re-CREATE reuses the
    * directory, and version numbers restart) — so a hit validates the
    * file's (inode, size, mtime) like the root cache does. Entries'
    * lazily-forced stats stay forced across every plan that shares the
    * segment (the C118 contract, now across versions too). Bounded LRU. */
  private val SegCacheCap = 512
  private val segCache = new java.util.LinkedHashMap[
    String, (Object, Long, java.nio.file.attribute.FileTime, Seq[ManifestFile])](
    SegCacheCap, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[
      String, (Object, Long, java.nio.file.attribute.FileTime, Seq[ManifestFile])])
      : Boolean = size() > SegCacheCap
  }
  /** Segment-file parses since JVM start — the segment cache's test hook. */
  private[graft] val segParseCount = new java.util.concurrent.atomic.AtomicLong

  /** Read one segment's entries; `chain` is the clone-resolution chain
    * (computed from the ROOT's props by the caller — resolving through
    * `resolveChain(dir)` here would recurse into the read in progress). */
  private def segEntries(chain: Seq[Path], name: String,
      schemaLen: Int, dir: Path): Seq[ManifestFile] = {
    import java.nio.file.attribute.BasicFileAttributes
    val p = chain.map(_.resolve(name)).find(Files.exists(_))
      .getOrElse(chain.head.resolve(name))
    val key = p.toAbsolutePath.toString
    def attrs(): BasicFileAttributes =
      Files.readAttributes(p, classOf[BasicFileAttributes])
    val a1 = attrs()
    if (a1.fileKey() != null) segCache.synchronized {
      segCache.get(key) match {
        case (fk, size, mt, es) if fk == a1.fileKey() && size == a1.size() &&
          mt == a1.lastModifiedTime() => return es
        case _ => ()
      }
    }
    segParseCount.incrementAndGet()
    val es = Files.readAllLines(p).asScala.toSeq.filter(_.nonEmpty)
      .map(entryOf(_, schemaLen, dir))
    if (a1.fileKey() != null)
      segCache.synchronized {
        segCache.put(key, (a1.fileKey(), a1.size(), a1.lastModifiedTime(), es))
      }
    es
  }

  /** Test hook: drop cached segments (pairs with [[clearReadCache]]). */
  private[graft] def clearSegCache(): Unit =
    segCache.synchronized(segCache.clear())

  private def parse(lines: Seq[String], dir: Path = null): Manifest = {
    val schema = StructType(lines.head.split("\t").filter(_.nonEmpty).map { cell =>
      val Array(n, t) = cell.split(":", 2)
      StructField(n, ByName(t.stripSuffix("!")), nullable = !t.endsWith("!"))
    }.toIndexedSeq)
    val (props, entryLines) = lines.tail match {
      case p +: rest if p.startsWith("!") =>
        (p.drop(1).split("\t").filter(_.nonEmpty).map { cell =>
          val Array(k, v) = cell.split("=", 2); k -> v
        }.toMap, rest)
      case rest => (Map.empty[String, String], rest)
    }
    // '>' lines are SEGMENT REFS (`>segName\tentryCount`) — the manifest
    // tree form: the root stays list-of-segments-sized and commits rewrite
    // only the segments they touch. Data-file names start with `part-`,
    // never '>', so the marker is unambiguous; inline entry lines (legacy
    // manifests, scratch fixtures) still parse.
    val (refLines, inlineLines) = entryLines.partition(_.startsWith(">"))
    // clone chain for segment resolution, from the props at hand (NOT
    // resolveChain(dir) — that re-reads the manifest being parsed)
    lazy val chain: Seq[Path] = props.get(CloneSourceProp) match {
      case Some(src) if dir != null => dir +: resolveChain(Paths.get(src))
      case _ if dir != null => Seq(dir)
      case _ => Seq.empty
    }
    val segments: Seq[(String, Seq[ManifestFile])] = refLines.map { r =>
      val name = r.drop(1).split("\t")(0)
      name -> segEntries(chain, name, schema.length, dir)
    }
    val entries = segments.flatMap(_._2) ++
      inlineLines.map(entryOf(_, schema.length, dir))
    Manifest(schema, entries, props, segments)
  }

  /** Manifest-file parses since JVM start (cache misses) — the caching
    * contract's test hook, not a metric. */
  private[graft] val fileParseCount = new java.util.concurrent.atomic.AtomicLong

  /** Parsed-manifest cache, keyed by absolute path and validated by the
    * file's (inode, size, mtime): every publish lands via tmp +
    * ATOMIC_MOVE, i.e. a FRESH inode, so attribute equality identifies
    * the exact published version — the same snapshot-identity trick
    * Delta's snapshot cache uses. Planning a query against an unchanged
    * table costs one stat call instead of re-reading and re-parsing a
    * (potentially multi-MB) manifest; entry stats forced lazily by an
    * earlier plan stay forced for every later one. Bounded LRU. */
  private val ReadCacheCap = 64
  private val readCache = new java.util.LinkedHashMap[
    String, (Object, Long, java.nio.file.attribute.FileTime, Manifest)](
    ReadCacheCap, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[
      String, (Object, Long, java.nio.file.attribute.FileTime, Manifest)]): Boolean =
      size() > ReadCacheCap
  }

  /** Test hook: drop every cached manifest AND segment (laziness specs
    * need fresh entry instances whose stats are provably unforced). */
  private[graft] def clearReadCache(): Unit = {
    readCache.synchronized(readCache.clear())
    clearSegCache()
  }

  private def readCached(mf: Path): Option[Manifest] = {
    import java.nio.file.attribute.BasicFileAttributes
    def attrs(): BasicFileAttributes =
      Files.readAttributes(mf, classOf[BasicFileAttributes])
    val key = mf.toAbsolutePath.toString
    val a1 = try attrs() catch { case _: java.io.IOException => return None }
    if (a1.fileKey() != null) readCache.synchronized {
      readCache.get(key) match {
        case (fk, size, mt, m) if fk == a1.fileKey() && size == a1.size() &&
          mt == a1.lastModifiedTime() => return Some(m)
        case _ => ()
      }
    }
    val lines = try Files.readAllLines(mf).asScala.toSeq
      catch { case _: java.io.IOException => return None } // swapped mid-read
    fileParseCount.incrementAndGet()
    val m = parse(lines, mf.toAbsolutePath.getParent)
    // cache only when the file provably did not change while we read it —
    // a concurrent swap between stat and read must never pin stale content
    val a2 = try attrs() catch { case _: java.io.IOException => return Some(m) }
    if (a1.fileKey() != null && a1.fileKey() == a2.fileKey() &&
      a1.size() == a2.size() && a1.lastModifiedTime() == a2.lastModifiedTime())
      readCache.synchronized {
        readCache.put(key, (a1.fileKey(), a1.size(), a1.lastModifiedTime(), m))
      }
    Some(m)
  }

  /** Current table state. */
  def read(dir: Path): Option[Manifest] = {
    val mf = dir.resolve("_manifest")
    if (!Files.exists(mf)) None
    else readCached(mf)
  }

  /** A specific archived snapshot (1-based, ascending commit order). */
  def readSnapshot(dir: Path, version: Int): Option[Manifest] = {
    val mf = dir.resolve(s"_manifest.v$version")
    if (!Files.exists(mf)) None
    else readCached(mf)
  }

  private val SnapshotName = """_manifest\.v(\d+)""".r

  /** All archived snapshot versions present, ascending. Strictly matches
    * `_manifest.v<digits>` — editor backups (`_manifest.v1~`) or leftover
    * tmp files must not break version parsing for every read and vacuum. */
  def snapshotVersions(dir: Path): Seq[Int] =
    if (!Files.isDirectory(dir)) Seq.empty
    else {
      val s = Files.list(dir)
      try s.iterator().asScala
        .map(_.getFileName.toString)
        .collect { case SnapshotName(v) => v.toInt }
        .toSeq.sorted
      finally s.close()
    }

  /** Past this many segment refs a commit compacts the BACK HALF of the
    * ref list (order-contiguous — entry order is commit order and must
    * survive) plus the new entries into one segment. Older, larger
    * segments at the front are never touched, and each merged segment
    * grows geometrically toward the front — log-structured behavior: a
    * commit's metadata write is O(new entries + recent-half), amortized
    * logarithmic in table size, never a periodic full rewrite. */
  private val SegMax = 64

  /** Atomic publish: archive the new state as `_manifest.v{n+1}` (time
    * travel), then move a tmp copy over `_manifest` (current). BOTH files
    * are published via tmp + ATOMIC_MOVE so a concurrent snapshot reader —
    * or VACUUM computing its reachable-file set — can never observe a
    * torn-but-parseable prefix and mistake live files for unreachable.
    *
    * THE MANIFEST TREE (Iceberg's metadata-tree model): entries live in
    * IMMUTABLE `seg-*.list` files; the root stores one `>segName\tcount`
    * ref per segment. A commit reuses every previous segment whose entries
    * all survive byte-identically (the raw-stats passthrough makes
    * untouched entries re-render byte-equal), writes the remaining entries
    * as ONE new segment, and swaps the tiny root — so an append to a
    * million-file table writes O(new entries + #segments), not the whole
    * list, archived snapshots share segments by reference (a version costs
    * a root, not a copy of every entry line), and a shallow clone or
    * RESTORE that hands back an already-segmented state re-publishes refs
    * with zero entry I/O. Segments referenced by no surviving version are
    * reaped by VACUUM like data files. */
  def write(dir: Path, m: Manifest): Unit = {
    // `!` suffix = NOT NULL (absent on old manifests → nullable, so the
    // codec change is read-back-compatible both directions)
    val header = m.schema.fields.map(f =>
      s"${f.name}:${TypeNames(f.dataType)}${if (f.nullable) "" else "!"}")
      .mkString("\t") +:
      (if (m.props.isEmpty) Seq.empty
       else Seq("!" + m.props.toSeq.sortBy(_._1)
         .map { case (k, v) => s"$k=$v" }.mkString("\t")))
    val next = snapshotVersions(dir).lastOption.getOrElse(0) + 1

    // segment composition: prefer the state's OWN segments (clone/restore
    // re-publish), then the previous version's. A candidate survives iff
    // its entries re-render byte-identically as the next CONTIGUOUS run of
    // m.entries at the reuse cursor — not merely "all present somewhere".
    // The cursor rule is what keeps `entry order is commit order` true
    // through reuse: if an early segment is invalidated (one entry
    // rewritten) its survivors land in the new tail segment, and a later
    // segment may only be reused if it still lines up where reconstruction
    // will place it. Without it, [reused later segment, early survivors]
    // would silently reorder the table — breaking the order-contiguous
    // back-half compaction below.
    val entryLines = m.entries.map(e => (e.name, entryLine(e)))
    val seen = scala.collection.mutable.Set.empty[String]
    val candidates = (m.segments ++
      read(dir).map(_.segments).getOrElse(Seq.empty))
      .filter(s => seen.add(s._1))
    var cursor = 0
    val kept = candidates.filter { case (_, es) =>
      val ok = es.nonEmpty && cursor + es.length <= entryLines.length &&
        es.iterator.zipWithIndex.forall { case (e, i) =>
          entryLines(cursor + i) == ((e.name, entryLine(e)))
        }
      if (ok) cursor += es.length
      ok
    }
    val remaining = m.entries.drop(cursor)
    def writeSeg(name: String, es: Seq[ManifestFile]): (String, Int) = {
      val tmp = dir.resolve(s"$name.tmp")
      Files.write(tmp, es.map(entryLine).mkString("\n").getBytes(UTF_8))
      Files.move(tmp, dir.resolve(name),
        StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
      (name, es.length)
    }
    // segment names carry a random component: a SHALLOW CLONE's refs
    // resolve through the clone chain PREFERRING the local dir, so a
    // clone-local segment named by version alone (`seg-v2-0.list`) would
    // SHADOW the source's same-named segment the manifest still
    // references — silently swapping one commit's entries for another's.
    // Version numbering restarts per directory (clones start at v1, DROP
    // + re-CREATE reuses paths), so only uniqueness de-collides.
    val uniq = java.util.UUID.randomUUID().toString.take(8)
    val refs: Seq[(String, Int)] =
      if (m.entries.isEmpty) Seq.empty
      else if (kept.length + 1 > SegMax) {
        // log-structured compaction: merge the order-contiguous BACK HALF
        // (the recent small commits) plus the new entries into one
        // segment; the older, larger front segments are reused untouched
        val (front, back) = kept.splitAt(kept.length / 2)
        front.map { case (n, es) => (n, es.length) } :+
          writeSeg(s"seg-v$next-m-$uniq.list", back.flatMap(_._2) ++ remaining)
      } else kept.map { case (n, es) => (n, es.length) } ++
        (if (remaining.isEmpty) Seq.empty
         else Seq(writeSeg(s"seg-v$next-0-$uniq.list", remaining)))

    val body = (header ++ refs.map { case (n, c) => s">$n\t$c" })
      .mkString("\n").getBytes(UTF_8)
    // `.tmp` LAST keeps the name outside SnapshotName even for substring
    // matching — `_manifest.tmp.v3` was only ignored because the regex
    // pattern match anchors full-string, a trap for future edits
    val snapTmp = dir.resolve(s"_manifest.v$next.tmp")
    Files.write(snapTmp, body)
    Files.move(snapTmp, dir.resolve(s"_manifest.v$next"),
      StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
    val tmp = dir.resolve("_manifest.tmp")
    Files.write(tmp, body)
    Files.move(tmp, dir.resolve("_manifest"),
      StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
  }
}

private[graft] class ManifestTable(val dir: Path, writeSchema: StructType,
    snapshot: Option[Int] = None)
  extends Table with SupportsRead with SupportsWrite
  with org.apache.spark.sql.connector.catalog.SupportsDelete
  with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns {
  import org.apache.spark.sql.sources.Filter

  override def name(): String = s"graft_manifest($dir)"

  /** SEMANTIC identity — two loads of the same table directory (at the
    * same pinned snapshot) are the same table, the way path-addressed
    * Delta/parquet relations compare. This is what lets canonicalized
    * PLAN equality work across separately-analyzed queries (the MV
    * rewrite's match, cache lookups). */
  override def equals(o: Any): Boolean = o match {
    case t: ManifestTable =>
      t.dir.toAbsolutePath == dir.toAbsolutePath && t.pinnedSnapshot == snapshot
    case _ => false
  }
  override def hashCode(): Int = dir.toAbsolutePath.hashCode ^ snapshot.hashCode
  private[graft] def pinnedSnapshot: Option[Int] = snapshot

  /** `_file` metadata column (the Iceberg idiom): the committed manifest
    * entry name of the row's data file — constant per scan partition, so
    * selecting it costs one string per row and no extra I/O. Powers
    * row→file attribution (file lineage, and the file-bounded MERGE's
    * touched-file discovery). Hidden unless selected; a data column of
    * the same name wins (Spark's metadata-conflict rule). */
  override def metadataColumns()
    : Array[org.apache.spark.sql.connector.catalog.MetadataColumn] = {
    val base = Array(ManifestTable.FileMetaCol, ManifestTable.PosMetaCol)
    // `_row_id` surfaces only on tracking tables — see [[Manifest.RowBasePrefix]]
    if (Manifest.rowTracking(Manifest.read(dir).map(_.props).getOrElse(Map.empty)))
      base :+ ManifestTable.RowIdMetaCol
    else base
  }
  /** The selected SNAPSHOT's schema when time-traveling (a pre-ALTER
    * version must read under the schema it was committed with), else the
    * current manifest's. */
  override def schema(): StructType = snapshot match {
    case Some(v) => Manifest.readSnapshot(dir, v).map(_.schema).getOrElse(writeSchema)
    case None => Manifest.read(dir).map(_.schema).getOrElse(writeSchema)
  }

  /** Column-level DEFAULT surfacing: the stored schema stays plain (the
    * codec never round-trips metadata), but the v2 columns carry each
    * `defcol.` contract as a [[ColumnDefaultValue]] — which is where
    * Spark's own output resolution reads defaults from when an INSERT
    * omits the column, writes the DEFAULT keyword, or a DataFrame write
    * under-specifies. Current and existence defaults are the same
    * constant: defaults here apply to future writes only (rows committed
    * before a SET DEFAULT already materialized their values). */
  override def columns(): Array[org.apache.spark.sql.connector.catalog.Column] = {
    import org.apache.spark.sql.connector.catalog.{Column => ColumnV2, ColumnDefaultValue}
    import org.apache.spark.sql.connector.expressions.LiteralValue
    val defs = Manifest.defaultCols(
      Manifest.read(dir).map(_.props).getOrElse(Map.empty))
    schema().fields.map { f =>
      defs.collectFirst { case (n, sql) if n.equalsIgnoreCase(f.name) => sql } match {
        case Some(sql) =>
          val v = Manifest.foldDefault(sql, f.dataType, f.name)
          // the connector Literal is a public interface; its stock
          // implementation (LiteralValue) is private[sql], so carry the
          // folded constant through a minimal instance
          val litV = new org.apache.spark.sql.connector.expressions.Literal[Any] {
            override def value(): Any = v
            override def dataType(): DataType = f.dataType
            override def toString: String = sql
          }
          ColumnV2.create(f.name, f.dataType, f.nullable, null,
            new ColumnDefaultValue(sql, litV), null)
        case None => ColumnV2.create(f.name, f.dataType, f.nullable)
      }
    }
  }
  override def capabilities(): java.util.Set[TableCapability] = {
    val caps = java.util.EnumSet.of(
      TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE, TableCapability.OVERWRITE_BY_FILTER,
      TableCapability.STREAMING_WRITE, TableCapability.MICRO_BATCH_READ)
    // generated/identity columns: Spark's strict output resolution cannot
    // accept a write that legitimately OMITS the computed columns, so such
    // tables opt out (Delta's architecture) and the injected
    // [[graft.plans.ResolveGeneratedWrites]] rule performs output
    // resolution + computation instead; the write builder's exact-schema
    // guard backstops any path the rule doesn't cover.
    val props = Manifest.read(dir).map(_.props).getOrElse(Map.empty)
    if (Manifest.generatedCols(props).nonEmpty ||
        Manifest.identityCols(props).nonEmpty)
      caps.add(TableCapability.ACCEPT_ANY_SCHEMA)
    // write-time schema evolution: when the session opts in, writes with
    // source-only columns must reach the write builder (which evolves the
    // table) instead of failing Spark's strict output resolution; the
    // injected rule performs by-name alignment in Spark's place
    if (scala.util.Try(org.apache.spark.sql.SparkSession.active.conf
        .getOption("spark.graft.schema.autoMerge")).toOption.flatten
        .contains("true"))
      caps.add(TableCapability.ACCEPT_ANY_SCHEMA)
    caps
  }

  /** The DECLARED partitioning (DESCRIBE / SHOW CREATE show it; new
    * writes cluster by the transforms' source columns — see
    * [[Manifest.PartitionColsProp]] / [[Manifest.PartitionTransformsProp]]). */
  override def partitioning(): Array[Transform] = {
    import org.apache.spark.sql.connector.expressions.Expressions
    val TimeT = """(years|months|days|hours)\((\w+)\)""".r
    val BucketT = """bucket\((\d+),(\w+)\)""".r
    val ClusterT = """cluster_by\(([\w,]+)\)""".r
    Manifest.partitionTransforms(dir) match {
      case Some(ts) => ts.map {
        case TimeT("years", c) => Expressions.years(c)
        case TimeT("months", c) => Expressions.months(c)
        case TimeT("days", c) => Expressions.days(c)
        case TimeT("hours", c) => Expressions.hours(c)
        case BucketT(n, c) => Expressions.bucket(n.toInt, c)
        case ClusterT(cols) =>
          org.apache.spark.sql.connector.expressions.ClusterByTransform(
            cols.split(",").toIndexedSeq.map(Expressions.column))
        case c => Expressions.identity(c)
      }.toArray
      case None => Manifest.partitionCols(dir)
        .map(c => Expressions.identity(c)).toArray
    }
  }

  /** User TBLPROPERTIES (SHOW TBLPROPERTIES reads this) — the `tbl.`-
    * prefixed manifest props with the prefix stripped; the sink's own
    * props (partition columns, epoch watermarks) stay internal. */
  override def properties(): java.util.Map[String, String] =
    Manifest.read(dir).map(_.props).getOrElse(Map.empty)
      .collect { case (k, v) if k.startsWith(GraftCatalog.TblPropPrefix) =>
        k.substring(GraftCatalog.TblPropPrefix.length) -> v
      }.asJava

  // an explicit read option wins; else the table's pinned snapshot (how
  // the catalog's VERSION AS OF / TIMESTAMP AS OF reach the scan). The
  // `files` option restricts the scan to a comma-separated subset of the
  // manifest's files — the internal hook copy-on-write rewrites use to
  // read only the files they replace. `changesFrom` [+ `changesTo`] is the
  // CHANGE-DATA-FEED read: only the files ADDED after snapshot `from` (up
  // to snapshot `to`, default current) — exact row-level changes for
  // append-only tables; a copy-on-write rewrite in the window surfaces its
  // surviving rows (the without-change-files approximation, as Delta
  // without CDF).
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val changesFrom = Option(options.get("changesFrom")).map(_.toInt)
    val streamOpts = Seq("maxFilesPerTrigger", "maxRowsPerTrigger",
        "startingVersion", "startingTimestamp", "skipChangeCommits",
        "ignoreChanges")
      .flatMap(k => Option(options.get(k)).map(k -> _)).toMap
    new ManifestScanBuilder(dir,
      Option(options.get("changesTo")).map(_.toInt)
        .orElse(Option(options.get("snapshot")).map(_.toInt)).orElse(snapshot),
      Option(options.get("files")).map(_.split(",").toSet),
      streamOpts,
      changesFrom.map { v =>
        if (v == 0) Set.empty[String]
        else Manifest.readSnapshot(dir, v).getOrElse(
          throw new IllegalArgumentException(
            s"changesFrom: snapshot $v expired or never existed at $dir"))
          .entries.map(_.name).toSet
      })
  }
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    ManifestTable.assertWritable(dir, "write")
    new ManifestWriteBuilder(dir, info.schema(), info.queryId())
  }

  /** DELETE in two tiers (the Iceberg/Delta split): the zone maps classify
    * every file as PROVABLY all-matching (range entirely inside the
    * predicate → dropped from the manifest, metadata-only), provably
    * non-matching (→ untouched), or CUT (the predicate crosses its range —
    * or the range can't decide, e.g. NULLs present). Cut files are
    * rewritten COPY-ON-WRITE by a distributed Spark job that reads only
    * those files, keeps the non-matching rows, and stages replacements
    * through the normal writer — so a selective delete over a 100 TB table
    * rewrites only the files it touches, and an aligned delete rewrites
    * nothing. Everything publishes in ONE atomic manifest swap; superseded
    * files stay on disk for archived snapshots until `VACUUM MANIFEST …
    * RETAIN n SNAPSHOTS` reaps them. `canDeleteWhere` accepts a predicate
    * iff every conjunct translates to a row-level [[Column]]
    * ([[ManifestScanBuilder.filterColumn]]) — an untranslatable filter
    * must be refused up front, never approximated. */
  private def classify(entries: Seq[ManifestFile], filters: Array[Filter])
    : (Seq[ManifestFile], Seq[ManifestFile], Seq[ManifestFile]) = {
    val (drop, rest) = entries.partition(e =>
      filters.forall(f => ManifestScanBuilder.mustMatchAll(f, e.stats)))
    val (cut, keep) = rest.partition(e =>
      filters.forall(f => ManifestScanBuilder.mightMatch(f, e.stats)) &&
        e.rows > 0)
    (drop, keep, cut)
  }

  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    filters.forall(f => ManifestScanBuilder.filterColumn(f).isDefined)

  override def deleteWhere(filters: Array[Filter]): Unit =
    ManifestTable.withConflictRetry("DELETE") {
    ManifestTable.assertWritable(dir, "DELETE")
    // ONE manifest read for the whole compound decision — schema, entries
    // and props must come from the same published version
    val m = Manifest.read(dir).getOrElse(Manifest(writeSchema, Seq.empty))
    val (drop, keep, cut) = classify(m.entries, filters)
    val _ = keep
    val pred = filters.map(f => ManifestScanBuilder.filterColumn(f).getOrElse(
      throw new UnsupportedOperationException(
        s"DELETE FROM: cannot evaluate pushed filter $f row-by-row")))
      .reduce(_ && _)
    import org.apache.spark.sql.functions.{coalesce, col, lit, not}
    // commit-time CDC: the deleted rows, exactly — drop files contribute
    // every row (zone-proven all-matching), cut files their matching rows.
    // The filter re-evaluates over both, so the tag never over-claims.
    // Note CDC turns the metadata-only drop tier into a bounded scan of
    // the dropped files — the Delta trade, paid only when the feed is on.
    def cdcDeletes: Map[String, String] =
      ManifestTable.writeCdc(dir, m, {
        val spark = org.apache.spark.sql.SparkSession.active
        spark.read.format("graft.sources.GraftManifestSink")
          .option("path", dir.toString)
          .option("files", (drop ++ cut).map(_.name).mkString(","))
          .load()
          .where(coalesce(pred, lit(false)))
          .select(m.schema.fieldNames.map(col).toIndexedSeq: _*)
          .withColumn("_change_type", lit("delete"))
      })
    if (cut.isEmpty) {
      ManifestTable.publishReplacing(dir, m, drop.map(_.name), Seq.empty,
        if (drop.isEmpty) Map.empty else cdcDeletes)
      return
    }
    if (m.props.get("tbl.delete.dv").contains("true")) {
      // MERGE-ON-READ tier (TBLPROPERTIES 'delete.dv'='true'): instead of
      // rewriting each cut file, record the matching rows' physical
      // ordinals in a per-file deletion-vector sidecar the reader skips —
      // a selective delete becomes O(matched rows) metadata. One
      // distributed job over ONLY the cut files finds (file, ordinal)
      // pairs and writes each file's sidecar executor-side; the driver
      // sees one ref per touched file. Existing vectors merge (the scan
      // below reads through them, so rediscovered ordinals are impossible
      // — union by construction); a file whose vector reaches its row
      // count drops from the manifest entirely.
      val spark = org.apache.spark.sql.SparkSession.active
      val hits = spark.read.format("graft.sources.GraftManifestSink")
        .option("path", dir.toString)
        .option("files", cut.map(_.name).mkString(","))
        .load()
        .where(coalesce(pred, lit(false)))
        .select(col("_file"), col("_pos"))
      val updated = ManifestTable.vectorize(dir, cut, hits)
      ManifestTable.publishReplacing(dir, m,
        drop.map(_.name) ++ updated.map(_._1), updated.flatMap(_._2),
        cdcDeletes)
    } else {
      ManifestTable.refuseRewriteUnderRowTracking(m.props, "DELETE (copy-on-write)")
      // DELETE removes rows where the predicate is TRUE; NULL/FALSE rows
      // survive — hence the coalesce, not a bare negation
      val rewritten = ManifestTable.rewriteFiles(dir, m, cut,
        df => df.filter(not(coalesce(pred, lit(false)))))
      ManifestTable.publishReplacing(dir, m, (drop ++ cut).map(_.name), rewritten,
        cdcDeletes)
    }
  }
}

/** Pluggable mutual exclusion for a table directory's manifest
  * read-modify-write — the commit-coordination seam a multi-driver
  * deployment swaps out.
  *
  * CONTRACT: `withLock(dir)(body)` runs `body` while no other writer —
  * any thread, process, or driver host, through any implementation bound
  * to the same physical table — is inside a `withLock` on the same
  * directory. `body` performs read manifest → stage → atomic swap; the
  * lock must cover all three, and callers never nest locks on one dir.
  * An implementation that cannot acquire MUST block or throw — returning
  * without exclusion silently loses the slower writer's commit.
  *
  * Implementations for object stores (where an OS file lock means
  * nothing): a conditional-put / compare-and-swap on the manifest object
  * version (S3 If-Match, GCS generation preconditions) retried on
  * conflict, or an external lock service (DynamoDB lease table, ZK/etcd
  * lease) — exactly the options Delta documents for multi-cluster
  * writes. Install process-wide via [[ManifestLock.install]]. */
private[graft] trait CommitLock {
  def withLock[T](dir: Path)(body: => T): T
}

/** Default [[CommitLock]]: a per-dir JVM monitor (same-process writers —
  * two threads locking one file would otherwise throw
  * `OverlappingFileLockException`) wrapping an OS file lock on
  * `_commit.lock` (cross-process writers on the same host). This closes
  * the lost-update race two concurrent commits had between manifest read
  * and swap — the loser's files stayed on disk unreferenced, i.e. SILENT
  * DATA LOSS that vacuum later reaped. Scope: same-host writers (the
  * local-FS deployment this sink serves). */
private[graft] object LocalFileCommitLock extends CommitLock {
  private val monitors = new java.util.concurrent.ConcurrentHashMap[String, Object]()

  def withLock[T](dir: Path)(body: => T): T = {
    val mon = monitors.computeIfAbsent(dir.toAbsolutePath.toString, _ => new Object)
    mon.synchronized {
      val ch = java.nio.channels.FileChannel.open(dir.resolve("_commit.lock"),
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.WRITE)
      try {
        val l = ch.lock()
        try body finally l.release()
      } finally ch.close()
    }
  }
}

/** The commit-lock binding every manifest RMW site goes through.
  * Process-wide ON PURPOSE: all writers in one driver must agree on the
  * coordination mechanism for a given deployment — per-table bindings
  * would let two writers of one table lock through different services
  * and miss each other entirely. */
private[graft] object ManifestLock {
  @volatile private var impl: CommitLock = LocalFileCommitLock

  /** Install a deployment's lock implementation; returns the previous
    * one (tests restore it). */
  private[graft] def install(l: CommitLock): CommitLock = {
    val prev = impl; impl = l; prev
  }

  def withLock[T](dir: Path)(body: => T): T = impl.withLock(dir)(body)
}

/** DELETION-VECTOR sidecars (the Delta/Iceberg merge-on-read tier for
  * row-level deletes): a `dv-*.bin` file of ascending physical row
  * ordinals (little-endian longs) that the reader skips while scanning
  * its data file. A 1-row delete from a 1 GB file becomes an 8-byte
  * sidecar + manifest swap instead of a 1 GB rewrite. Sidecars are
  * immutable and content-fresh per publish (a re-delete writes a NEW
  * merged sidecar — old snapshots keep referencing theirs, so time
  * travel sees pre-delete rows); OPTIMIZE / compaction read through the
  * vectors and emit vector-free files, purging them; VACUUM reaps
  * sidecars no surviving snapshot references. */
private[sources] object DeletionVector {
  def write(dir: Path, ordinals: Array[Long]): String = {
    val name = s"dv-${java.util.UUID.randomUUID().toString.take(13)}.bin"
    val bb = java.nio.ByteBuffer.allocate(ordinals.length * 8)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    ordinals.foreach(bb.putLong)
    // unreferenced until the manifest swap publishes it — a crash between
    // write and swap leaves an orphan VACUUM reaps, never a torn reference
    Files.write(dir.resolve(name), bb.array())
    name
  }
  def read(path: Path): Array[Long] = {
    val bytes = Files.readAllBytes(path)
    val bb = java.nio.ByteBuffer.wrap(bytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    Array.fill(bytes.length / 8)(bb.getLong)
  }
}

private[graft] object ManifestTable {
  /** The manifest table a relation reads, if it reads one. */
  def of(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : Option[ManifestTable] = p match {
    case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation =>
      r.table match {
        case t: ManifestTable => Some(t)
        case _ => None
      }
    case _ => None
  }

  /** The manifest table catalog table `table` analyzes to, if any. */
  def find(spark: org.apache.spark.sql.SparkSession,
      table: String): Option[ManifestTable] =
    spark.table(table).queryExecution.analyzed.collectFirst(
      Function.unlift(of))

  /** [[find]], or a refusal naming the operation: only this engine's
    * manifest tables carry the snapshot and index machinery `op` needs. */
  def resolve(spark: org.apache.spark.sql.SparkSession, table: String,
      op: String): ManifestTable =
    find(spark, table).getOrElse(throw new UnsupportedOperationException(
      s"$op: $table is not a graft manifest table — $op runs only on " +
        "this engine's catalog tables"))

  /** AUTOMATIC RETRY on optimistic conflict (the Delta/Iceberg commit
    * loop): a row-level operation that loses the publish race recomputes
    * against the FRESH snapshot and tries again — `body` must be the
    * WHOLE operation (snapshot read → rewrite → publish), so each attempt
    * sees every concurrent commit's effects and the ops compose instead
    * of failing by default. Bounded by `spark.graft.commit.maxRetries`
    * (default 3; 0 = surface every conflict immediately, the old
    * behavior); exhaustion rethrows the conflict — livelock under
    * pathological contention fails loudly rather than spinning. A failed
    * attempt's staged/rewritten files are unreferenced orphans VACUUM
    * reaps; attempt re-runs stage under fresh query ids, never colliding. */
  private[graft] def withConflictRetry[T](what: String)(body: => T): T = {
    val max = scala.util.Try(org.apache.spark.sql.SparkSession.active.conf
      .getOption("spark.graft.commit.maxRetries").map(_.toInt)).toOption
      .flatten.getOrElse(3)
    var attempt = 0
    while (attempt < max) {
      try return body
      catch {
        case e: java.util.ConcurrentModificationException =>
          attempt += 1
          if (attempt >= max) throw e
      }
    }
    body // max <= 0: single un-retried attempt
  }

  /** See [[ManifestTable.metadataColumns]]. */
  val FileMetaCol: org.apache.spark.sql.connector.catalog.MetadataColumn =
    new org.apache.spark.sql.connector.catalog.MetadataColumn {
      override def name(): String = "_file"
      override def dataType(): DataType = StringType
      override def isNullable: Boolean = false
      override def comment(): String =
        "manifest entry name of the data file this row was read from"
    }

  /** `_pos` metadata column: the row's PHYSICAL ordinal within its data
    * file (deletion-vector ordinal space) — stable across reads because
    * files are immutable. Powers DV construction; analog of parquet's
    * `_metadata.row_index`. */
  val PosMetaCol: org.apache.spark.sql.connector.catalog.MetadataColumn =
    new org.apache.spark.sql.connector.catalog.MetadataColumn {
      override def name(): String = "_pos"
      override def dataType(): DataType = LongType
      override def isNullable: Boolean = false
      override def comment(): String =
        "physical row ordinal within the row's data file"
    }

  /** `_row_id` metadata column (rowTracking tables only): the row's STABLE
    * logical id, `rowbase(file) + _pos` — survives appends and
    * deletion-vector DML of untouched rows; see
    * [[Manifest.RowBasePrefix]]. NULL for an entry committed before the
    * table enabled tracking and not yet re-sealed. */
  val RowIdMetaCol: org.apache.spark.sql.connector.catalog.MetadataColumn =
    new org.apache.spark.sql.connector.catalog.MetadataColumn {
      override def name(): String = "_row_id"
      override def dataType(): DataType = LongType
      override def isNullable: Boolean = true
      override def comment(): String =
        "stable logical row id (file base + physical position)"
    }

  /** Refuse an operation that would REWRITE surviving rows into new files
    * on a rowTracking table — `_row_id` is `base(file) + position`, so a
    * layout rewrite silently reassigns every id a downstream consumer
    * holds. Deletion-vector DML never moves a surviving row and stays
    * allowed. */
  private[graft] def refuseRewriteUnderRowTracking(
      props: Map[String, String], op: String): Unit =
    if (Manifest.rowTracking(props)) throw new UnsupportedOperationException(
      s"$op: this table has rowTracking=true — row ids are file-base + " +
        "position, and rewriting surviving rows into new files would " +
        "reassign them. Use deletion-vector DML " +
        "(TBLPROPERTIES('delete.dv'='true')) or UNSET " +
        "TBLPROPERTIES('rowTracking') first")

  /** COPY-ON-WRITE rewrite step shared by row-level DELETE and UPDATE: run
    * `transform` over ONLY the given files of table `dir` (a distributed
    * Spark job — the scan plans one partition per file, the write stages
    * per-task files with fresh zone maps) and return manifest entries for
    * the results. The caller composes the final entry list and performs
    * the single atomic swap; the replaced files stay on disk for archived
    * snapshots. The staging detour through a scratch table keeps this on
    * the exact writer/commit machinery every batch write uses. */
  private[graft] def rewriteFiles(dir: Path, m: Manifest,
      files: Seq[ManifestFile],
      transform: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)
    : Seq[ManifestFile] = {
    val spark = org.apache.spark.sql.SparkSession.active
    val src = spark.read.format("graft.sources.GraftManifestSink")
      .option("path", dir.toString)
      .option("files", files.map(_.name).mkString(","))
      .load()
    val scratch = Files.createTempDirectory("graft_cow_")
    // carry the table's USER props (e.g. bloom.columns) into the scratch
    // manifest so copy-on-write outputs keep their blooms. The sink's OWN
    // props stay behind deliberately: a rewrite's layout is owned by its
    // explicit transform (OPTIMIZE ZORDER must not be re-shuffled by the
    // partition-clustering contract), and epoch watermarks belong to the
    // real table only.
    val carried = m.props.filter(_._1.startsWith(GraftCatalog.TblPropPrefix)) ++
      // the bucket-transform contract rides along too (NOT partitionCols —
      // that would re-shuffle the rewrite's explicit layout): the fanout
      // writer keeps rewritten files bucket-pure whatever the clustering,
      // so OPTIMIZE/COW preserve SPJ readiness — and OPTIMIZE of a table
      // with legacy untagged files UPGRADES them to bucket-pure
      m.props.get(Manifest.PartitionTransformsProp)
        .map(Manifest.PartitionTransformsProp -> _)
    // ALWAYS write the scratch manifest (even with no carried props): the
    // schema's NOT NULL contract and the `check.*` properties must bind in
    // the rewrite's WriteBuilder, so copy-on-write outputs obey the same
    // write-time constraints as direct writes
    Manifest.write(scratch, Manifest(m.schema, Seq.empty, carried))
    transform(src)
      .write.format("graft.sources.GraftManifestSink")
      .option("path", scratch.toString).mode("append").save()
    val entries = Manifest.read(scratch).map(_.entries).getOrElse(Seq.empty)
    val moved = entries.map { e =>
      Files.move(scratch.resolve(e.name), dir.resolve(e.name),
        StandardCopyOption.REPLACE_EXISTING)
      e.blobsFile.foreach(b => Files.move(scratch.resolve(b), dir.resolve(b),
        StandardCopyOption.REPLACE_EXISTING))
      e
    }
    // scratch holds only the manifest + snapshots now — reap it
    val walk = Files.walk(scratch)
    try walk.sorted(java.util.Comparator.reverseOrder[Path]())
      .forEach(p => Files.deleteIfExists(p))
    finally walk.close()
    moved
  }

  /** Write `df` as NEW entries of the table at `dir` WITHOUT publishing:
    * the rows land in a scratch manifest (inheriting the table's user
    * props + transform contract, so blooms/constraints/bucket layout
    * apply), the files move into the table directory unreferenced, and
    * the returned entries are what [[publishReplacing]] commits — letting
    * a caller bind extra props (e.g. the COPY INTO idempotency log) into
    * the SAME atomic swap as the data. */
  private[graft] def stageAppend(dir: Path, m: Manifest,
      df: org.apache.spark.sql.DataFrame): Seq[ManifestFile] = {
    val scratch = Files.createTempDirectory("graft_copy_")
    val carried = m.props.filter(_._1.startsWith(GraftCatalog.TblPropPrefix)) ++
      m.props.get(Manifest.PartitionTransformsProp)
        .map(Manifest.PartitionTransformsProp -> _) ++
      m.props.get(Manifest.PartitionColsProp)
        .map(Manifest.PartitionColsProp -> _)
    Manifest.write(scratch, Manifest(m.schema, Seq.empty, carried))
    df.write.format("graft.sources.GraftManifestSink")
      .option("path", scratch.toString).mode("append").save()
    val entries = Manifest.read(scratch).map(_.entries).getOrElse(Seq.empty)
    val moved = entries.map { e =>
      Files.move(scratch.resolve(e.name), dir.resolve(e.name),
        StandardCopyOption.REPLACE_EXISTING)
      e.blobsFile.foreach(b => Files.move(scratch.resolve(b), dir.resolve(b),
        StandardCopyOption.REPLACE_EXISTING))
      e
    }
    val walk = Files.walk(scratch)
    try walk.sorted(java.util.Comparator.reverseOrder[Path]())
      .forEach(p => Files.deleteIfExists(p))
    finally walk.close()
    moved
  }

  /** `COPY INTO <table> FROM '<dir>'` — idempotent FILE-LEVEL ingestion
    * (the Delta/lakehouse loading idiom): each source file loads EXACTLY
    * ONCE; re-running the statement copies only files that appeared since,
    * so a scheduled loader needs no bookkeeping of its own. Identity is
    * the source path (a rewritten file does not re-copy — point a new
    * path at reprocessed data). The loaded-set sidecar swaps in the SAME
    * commit as the data entries, so a crash anywhere leaves either both
    * or neither. Returns (files copied, rows copied, files skipped). */
  private[graft] def copyInto(spark: org.apache.spark.sql.SparkSession,
      dir: Path, source: String, format: String,
      pattern: Option[String]): (Long, Long, Long) = withConflictRetry("COPY INTO") {
    import org.apache.spark.sql.functions.col
    assertWritable(dir, "COPY INTO")
    val m = Manifest.read(dir).getOrElse(
      throw new IllegalStateException(s"COPY INTO: no manifest at $dir"))
    val loaded: Set[String] = m.props.get(Manifest.CopyLogProp).map { log =>
      Files.readAllLines(dir.resolve(log)).asScala.filter(_.nonEmpty).toSet
    }.getOrElse(Set.empty)
    val src = Paths.get(source)
    if (!Files.isDirectory(src)) throw new IllegalArgumentException(
      s"COPY INTO: source '$source' is not a directory")
    val matcher = pattern.map(p =>
      src.getFileSystem.getPathMatcher("glob:" + p))
    val candidates = {
      val s = Files.list(src)
      try s.iterator().asScala.toSeq finally s.close()
    }.filter(Files.isRegularFile(_))
      .filter(p => !p.getFileName.toString.startsWith("_") &&
        !p.getFileName.toString.startsWith("."))
      .filter(p => matcher.forall(_.matches(p.getFileName)))
      .map(_.toAbsolutePath.toString).sorted
    val fresh = candidates.filterNot(loaded)
    if (fresh.isEmpty) (0L, 0L, candidates.length.toLong)
    else copyFresh(spark, dir, m, fresh, candidates.length, format)
  }

  private def copyFresh(spark: org.apache.spark.sql.SparkSession, dir: Path,
      m: Manifest, fresh: Seq[String], nCandidates: Int,
      format: String): (Long, Long, Long) = {
    import org.apache.spark.sql.functions.col
    val loaded: Set[String] = m.props.get(Manifest.CopyLogProp).map { log =>
      Files.readAllLines(dir.resolve(log)).asScala.filter(_.nonEmpty).toSet
    }.getOrElse(Set.empty)
    val reader = format.toLowerCase match {
      case "parquet" => spark.read.parquet(fresh: _*)
      case "csv" => spark.read.option("header", "true")
        .schema(Manifest.relaxNullability(m.schema)).csv(fresh: _*)
      case "json" => spark.read
        .schema(Manifest.relaxNullability(m.schema)).json(fresh: _*)
      case other => throw new UnsupportedOperationException(
        s"COPY INTO: FILEFORMAT = $other not supported (PARQUET, CSV, JSON)")
    }
    // resolve BY NAME against the table schema, casting to declared types;
    // a source missing a table column fails in COPY terms, not mid-write
    val projected = reader.select(m.schema.fields.toIndexedSeq.map { f =>
      if (!reader.columns.exists(_.equalsIgnoreCase(f.name)))
        throw new IllegalArgumentException(
          s"COPY INTO: source lacks table column ${f.name} " +
            s"(source columns: ${reader.columns.mkString(", ")})")
      col(f.name).cast(f.dataType).as(f.name)
    }: _*)
    val entries = stageAppend(dir, m, projected)
    val log = s"copylog-${java.util.UUID.randomUUID.toString.take(8)}.txt"
    Files.write(dir.resolve(log),
      (loaded ++ fresh).toSeq.sorted.mkString("\n").getBytes(UTF_8))
    publishReplacing(dir, m, Seq.empty, entries,
      Map(Manifest.CopyLogProp -> log))
    (fresh.length.toLong, entries.map(_.rows).sum,
      (nCandidates - fresh.length).toLong)
  }

  /** Append write-schema-only columns to the table schema — the
    * metadata-only half of write-time schema evolution (the write builder
    * calls this under `spark.graft.schema.autoMerge`). Nullable always:
    * existing rows NULL-fill through the codec's short-row rule. */
  private[sources] def evolveForWrite(dir: Path, writeSchema: StructType): Unit = {
    val extras0 = Manifest.read(dir).map { m =>
      writeSchema.fields.filterNot(f =>
        m.schema.fieldNames.exists(_.equalsIgnoreCase(f.name))).toSeq
    }.getOrElse(Seq.empty)
    if (extras0.nonEmpty) ManifestLock.withLock(dir) {
      Manifest.read(dir).foreach { m =>
        val extras = extras0.filterNot(f =>
          m.schema.fieldNames.exists(_.equalsIgnoreCase(f.name)))
        extras.foreach { f =>
          if (!Manifest.supportedType(f.dataType))
            throw new UnsupportedOperationException(
              s"schema evolution: type ${f.dataType.simpleString} of " +
                s"source column ${f.name} not supported by this sink")
        }
        if (extras.nonEmpty)
          Manifest.write(dir, m.copy(schema = StructType(m.schema.fields ++
            extras.map(f => StructField(f.name, f.dataType, nullable = true)))))
      }
    }
  }

  /** POST-COMMIT AUTO-COMPACTION (Delta's autoOptimize.autoCompact): a
    * table with TBLPROPERTIES('autoCompact'='true') compacts itself
    * synchronously after a write commit once its sub-target live files
    * reach `spark.graft.autoCompact.minFiles` (default 50) — the
    * streaming one-file-per-epoch trail and trickle-append pipelines
    * stop degrading scans without a scheduled OPTIMIZE. Amortized O(1):
    * below the threshold this is one manifest read + size stats; the
    * compaction itself is the bin-packing OPTIMIZE (sub-target files
    * only), committed as a dataChange=false layout commit that data
    * streams already skip. Best-effort by contract: a compaction failure
    * (e.g. losing a concurrent-writer race) never fails the write that
    * triggered it. */
  private[sources] def maybeAutoCompact(dir: Path): Unit = try {
    val spark = org.apache.spark.sql.SparkSession.active
    Manifest.read(dir).foreach { m =>
      if (m.props.get(GraftCatalog.TblPropPrefix + "autoCompact").contains("true")) {
        val minFiles = spark.conf.getOption("spark.graft.autoCompact.minFiles")
          .map(_.toInt).getOrElse(50)
        val target = spark.conf.getOption("spark.graft.autoCompact.targetBytes")
          .map(_.toLong).getOrElse(128L * 1024 * 1024)
        val chain = Manifest.resolveChain(dir)
        val small = m.entries.count(e => e.rows > 0 && {
          val p = Manifest.resolveData(chain, e.name)
          Files.exists(p) && Files.size(p) < target * 9 / 10
        })
        if (small >= minFiles) { optimize(dir, target); () }
      }
    }
  } catch {
    case e: Exception =>
      System.err.println(s"[graft] auto-compact at $dir skipped: ${e.getMessage}")
  }

  /** POST-COMMIT INDEX AUTO-REFRESH: a table with
    * TBLPROPERTIES('index.autoRefresh'='true') refreshes every published
    * secondary index after a write commit — always incremental
    * ([[TextIndex.refresh]] / [[VectorIndex.refresh]]: dead files'
    * postings drop, only new files index). A FRESH index
    * is one manifest read + digest compare (no-op), so the amortized cost
    * tracks the ingest, not the corpus. Best-effort like auto-compaction:
    * a refresh failure never fails the write that triggered it (searches
    * just fall back until the next refresh). Runs AFTER auto-compaction
    * so one pass covers both the data and any layout commit. */
  private[sources] def maybeAutoRefreshIndexes(dir: Path): Unit = try {
    val spark = org.apache.spark.sql.SparkSession.active
    Manifest.read(dir).foreach { m =>
      if (m.props.get(GraftCatalog.TblPropPrefix + "index.autoRefresh")
          .contains("true")) {
        m.props.keys.toSeq.sorted.foreach {
          case k if k.startsWith(TextIndex.PropPrefix) =>
            TextIndex.refresh(spark, dir, k.stripPrefix(TextIndex.PropPrefix))
          case k if k.startsWith(VectorIndex.PropPrefix) =>
            VectorIndex.refresh(spark, dir, k.stripPrefix(VectorIndex.PropPrefix))
          case _ => ()
        }
      }
    }
  } catch {
    case e: Exception =>
      System.err.println(s"[graft] index auto-refresh at $dir skipped: ${e.getMessage}")
  }

  /** Rows the most recent DV construction brought back to the driver —
    * after the distributed rewrite this is ALWAYS one row per touched
    * file, never one per matched row. Tests pin the O(#files) contract
    * on this counter so a future edit can't quietly reintroduce the
    * driver-side ordinal collect. */
  private[graft] val lastDvDriverRows = new java.util.concurrent.atomic.AtomicLong(-1L)

  /** Fold row-level hits into per-entry deletion vectors, DISTRIBUTED:
    * `hits` is a DataFrame whose first column is the entry name (string)
    * and second the physical ordinal (long). Hits shuffle once on the
    * entry name; each task merges its files' ordinals with any existing
    * sidecar (resolved through the clone chain) and writes the NEW
    * `dv-*.bin` from the executor — unreferenced until the manifest swap,
    * so a failed task leaves only an orphan VACUUM reaps. The driver
    * receives one `(file, sidecar, count)` ref per touched file: DV DML
    * memory is O(#touched files), never O(matched rows) — a selective
    * MERGE that still hits 10⁸ rows at 100 TB no longer funnels every
    * ordinal through the driver. An entry whose merged vector reaches its
    * row count is dropped outright (the task skips the sidecar write).
    * Returns (replaced entry name, replacement or None=fully deleted) —
    * the shape [[publishReplacing]] takes. Shared by the DV tiers of
    * DELETE, UPDATE and MERGE. */
  private[graft] def vectorize(dir: Path, entries: Seq[ManifestFile],
      hits: org.apache.spark.sql.DataFrame): Seq[(String, Option[ManifestFile])] = {
    import org.apache.spark.sql.{Encoders, functions => F}
    // planner metadata into the closure: existing sidecar per file (reads
    // merge through it) and row counts (full-coverage detection) — both
    // O(#touched files)
    val existingDv: Map[String, String] =
      entries.flatMap(e => e.dv.map(d => e.name -> d._1)).toMap
    val rowsOf: Map[String, Long] = entries.map(e => e.name -> e.rows).toMap
    val dirStr = dir.toString
    val cols = hits.columns
    val refs = hits
      .select(F.col(cols(0)).cast("string").as("f"),
        F.col(cols(1)).cast("long").as("p"))
      .repartition(F.col("f"))
      .sortWithinPartitions("f", "p")
      .as(Encoders.tuple(Encoders.STRING, Encoders.scalaLong))
      .mapPartitions { it =>
        val d = Paths.get(dirStr)
        lazy val chain = Manifest.resolveChain(d)
        val out = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
        var cur: String = null
        val buf = scala.collection.mutable.ArrayBuffer.empty[Long]
        def flush(): Unit = if (cur != null) {
          val existing = existingDv.get(cur)
            .map(n => DeletionVector.read(Manifest.resolveData(chain, n)))
            .getOrElse(Array.emptyLongArray)
          val merged = (existing ++ buf).distinct.sorted
          val full = rowsOf.get(cur).exists(merged.length >= _)
          out += ((cur, if (full) "" else DeletionVector.write(d, merged),
            merged.length.toLong))
          buf.clear()
        }
        it.foreach { case (f, p) =>
          if (f != cur) { flush(); cur = f }
          buf += p
        }
        flush()
        out.iterator
      }(Encoders.tuple(Encoders.STRING, Encoders.STRING, Encoders.scalaLong))
      .collect()
    lastDvDriverRows.set(refs.length.toLong)
    val byFile = refs.map(r => r._1 -> ((r._2, r._3))).toMap
    entries.flatMap { e =>
      byFile.get(e.name) match {
        case None => None // conservative candidate; nothing matched
        case Some(("", _)) => Some(e.name -> None) // vector covers every row
        case Some((dvName, n)) => Some(e.name -> Some(e.copy(dv = Some((dvName, n)))))
      }
    }
  }

  /** Publish a row-level operation's result: replace exactly the files the
    * op read (`replaced`, from its base snapshot `base`) with `rewritten`,
    * keeping every entry some CONCURRENT append added since — the RMW runs
    * against the CURRENT manifest under the commit lock, so row-level ops
    * commute with appends instead of silently un-publishing them. The op's
    * row semantics stay snapshot-isolated: it read `base`, and files it
    * never saw are left for the next operation. */
  /** COMMIT-TIME CDC (Delta's change-data files): under `TBLPROPERTIES
    * ('changeFeed' = 'true')`, each row-level DML records its EXACT change
    * rows — data columns + `_change_type` — as a self-contained mini
    * manifest table under `dir/_cdc_<uuid>/`, written by the normal sink
    * (distributed, atomic, TSV-codec'd). The commit then carries
    * [[Manifest.CdcDirProp]] → that dir, and [[changes]] replays the
    * recorded rows instead of diffing — making insert-vs-update
    * attribution EXACT inside mixed commits (the one shape the read-time
    * diff cannot attribute). The rows are computed by one extra bounded
    * job over the op's own touched files — the Delta trade: CDF costs the
    * change volume at write time, never a table scan at read time. A
    * crash between the CDC write and the publish leaves an orphan dir
    * VACUUM reaps. Returns the props entry to attach, empty when the
    * feature is off (`changeRows` is by-name — never built then). */
  private[graft] def writeCdc(dir: Path, m: Manifest,
      changeRows: => org.apache.spark.sql.DataFrame): Map[String, String] =
    if (!m.props.get("tbl.changeFeed").contains("true")) Map.empty
    else {
      val name = s"_cdc_${java.util.UUID.randomUUID().toString.take(13)}"
      val sub = dir.resolve(name)
      Files.createDirectories(sub)
      Manifest.write(sub, Manifest(StructType(m.schema.fields :+
        StructField("_change_type", StringType, nullable = false)), Seq.empty))
      changeRows.write.format("graft.sources.GraftManifestSink")
        .option("path", sub.toString).mode("append").save()
      Map(Manifest.CdcDirProp -> name)
    }

  /** Refuse any mutation of an IMMUTABLE TAG directory ([[Tag]]): the
    * pinned manifest carries [[Tag.PinProp]], and a tag must never
    * diverge — that is the whole reproducible-release contract. */
  /** TABLE FEATURES this engine implements (the Delta table-features
    * protocol idea): a table may declare
    * `TBLPROPERTIES('feature.required.<name>' = 'true')` and every reader
    * and writer must refuse the table unless it KNOWS <name> — forward
    * compatibility done honestly: an older engine fails loudly instead of
    * silently misreading state written under semantics it predates. */
  private[graft] val SupportedFeatures: Set[String] = Set(
    "deletionvectors", "rowtracking", "changefeed", "clusterby",
    "tokenindex", "vectorindex", "generatedcolumns", "identitycolumns",
    "defaults", "constraints", "branches", "tags", "copyinto",
    "autocompact", "autorefresh")

  private val FeatureReqPrefix = GraftCatalog.TblPropPrefix + "feature.required."

  /** Refuse tables that REQUIRE a feature this engine does not implement
    * — checked on every scan and every write admission. */
  private[graft] def assertFeatures(props: Map[String, String],
      op: String): Unit = {
    val unknown = props.keys
      .filter(_.startsWith(FeatureReqPrefix))
      .map(_.stripPrefix(FeatureReqPrefix))
      .filterNot(f => SupportedFeatures(f.toLowerCase))
    if (unknown.nonEmpty) throw new UnsupportedOperationException(
      s"$op: table requires feature(s) ${unknown.toSeq.sorted.mkString(", ")} " +
        "this engine does not implement — upgrade the engine, or UNSET " +
        "TBLPROPERTIES ('feature.required.<name>') if the requirement was " +
        "declared in error")
  }

  private[graft] def assertWritable(dir: Path, op: String): Unit = {
    val m = Manifest.read(dir)
    // ALTER TABLE stays allowed on a feature-gated table — it is the
    // escape hatch that UNSETs a mistaken requirement (Delta's protocol
    // downgrade); data reads/writes stay refused until then
    if (op != "ALTER TABLE") m.foreach(mm => assertFeatures(mm.props, op))
    m.flatMap(_.props.get(Tag.PinProp)).foreach { v =>
      throw new UnsupportedOperationException(
        s"$op: $dir is an immutable TAG (pinned at version $v) — tags " +
          "never change; write to the table itself, or DROP TAG first")
    }
  }

  private[graft] def publishReplacing(dir: Path, base: Manifest,
      replaced: Seq[String], rewritten: Seq[ManifestFile],
      extraProps: Map[String, String] = Map.empty): Unit = {
    assertWritable(dir, "commit")
    val gone = replaced.toSet
    // optimistic CONFLICT DETECTION (the Delta ConcurrentDeleteRead rule):
    // the op computed its rewrite against `base`; if any file it replaces
    // was itself replaced, dropped, or deletion-vectored by a CONCURRENT
    // operation (same name but different rows/vector, or absent), blindly
    // publishing would co-publish two divergent rewrites of one file —
    // rows matching neither predicate would DUPLICATE. Fail the loser
    // loudly instead; appends never conflict (names are disjoint) and
    // still commute.
    def key(e: ManifestFile) = (e.rows, e.dv)
    val baseKey = base.entries.filter(e => gone(e.name))
      .map(e => e.name -> key(e)).toMap
    ManifestLock.withLock(dir) {
      val cur = Manifest.read(dir).getOrElse(base)
      val curKey = cur.entries.map(e => e.name -> key(e)).toMap
      val conflicted = replaced.filter(n => curKey.get(n) != baseKey.get(n))
      if (conflicted.nonEmpty) throw new java.util.ConcurrentModificationException(
        s"concurrent update conflict on $dir: file(s) " +
          s"${conflicted.mkString(", ")} changed since this operation's " +
          "snapshot (a concurrent DELETE/UPDATE/MERGE/OPTIMIZE replaced " +
          "them) — re-run the operation against the current state")
      val ents = cur.entries.filterNot(e => gone(e.name)) ++ rewritten
      Manifest.write(dir, Manifest(cur.schema, ents,
        Manifest.sealRowTracking(cur.props ++ extraProps, ents)))
    }
    // layout/DML rewrites keep autoRefresh indexes fresh too: since the
    // refresh is always incremental (dead postings drop, only rewritten
    // output re-indexes), running it after OPTIMIZE/DELETE/MERGE/REORG
    // costs the rewritten files, never the corpus. Fresh index → one
    // digest compare, a no-op. (Outside the commit lock, best-effort,
    // like the append path's.)
    maybeAutoRefreshIndexes(dir)
  }

  /** Execute `DELETE FROM <table at dir> WHERE pred` for predicates the
    * v1 Filter dialect CANNOT express exactly (`id % 3 = 0`,
    * `length(s) > k`, function-of-column shapes) — the expression tier
    * the SQL parser lowers to when [[exprFilter]] refuses a conjunct
    * (translatable predicates keep Spark's native DSv2 path and its
    * metadata-only drop tier).
    *
    * Scale shape mirrors [[updateWhere]]: the translatable SUBSET of the
    * conjuncts prunes provably-unaffected files via the zone maps; every
    * surviving file either vectors its matching ordinals (DV mode) or
    * rewrites copy-on-write keeping rows where the predicate is FALSE or
    * NULL (ANSI DELETE removes TRUE rows only). One atomic publish;
    * commit-time CDC records the deleted rows when the feed is on. */
  private[graft] def deleteWhereSql(dir: Path, whereSql: String): Unit =
    withConflictRetry("DELETE") {
    import org.apache.spark.sql.functions.{coalesce, col, expr, lit, not}
    assertWritable(dir, "DELETE")
    val spark = org.apache.spark.sql.SparkSession.active
    val m = Manifest.read(dir).getOrElse(
      throw new IllegalStateException(s"DELETE: no manifest at $dir"))
    val pruning = conjuncts(
      spark.sessionState.sqlParser.parseExpression(whereSql)).flatMap(exprFilter)
    val touch = m.entries.filter(e => e.rows > 0 &&
      pruning.forall(f => ManifestScanBuilder.mightMatch(f, e.stats)))
    if (touch.isEmpty) return
    val cond = coalesce(expr(whereSql), lit(false))
    def scanTouch = spark.read.format("graft.sources.GraftManifestSink")
      .option("path", dir.toString)
      .option("files", touch.map(_.name).mkString(","))
      .load()
    def cdcDeletes: Map[String, String] = writeCdc(dir, m,
      scanTouch.where(cond)
        .select(m.schema.fieldNames.map(col).toIndexedSeq: _*)
        .withColumn("_change_type", lit("delete")))
    val dvMode = m.props.get("tbl.delete.dv").contains("true") &&
      !m.schema.fieldNames.exists(n =>
        n.equalsIgnoreCase("_file") || n.equalsIgnoreCase("_pos"))
    if (dvMode) {
      val hits = scanTouch.where(cond).select(col("_file"), col("_pos"))
      val updated = vectorize(dir, touch, hits)
      publishReplacing(dir, m, updated.map(_._1), updated.flatMap(_._2),
        cdcDeletes)
    } else {
      refuseRewriteUnderRowTracking(m.props, "DELETE (copy-on-write)")
      val rewritten = rewriteFiles(dir, m, touch, df => df.filter(not(cond)))
      publishReplacing(dir, m, touch.map(_.name), rewritten, cdcDeletes)
    }
  }

  /** Execute `UPDATE <table at dir> SET col = expr, … [WHERE pred]`
    * (SQL strings for every right-hand side and the predicate — evaluated
    * by Spark's own expression engine inside the rewrite job, so the full
    * scalar-function surface works in SET/WHERE).
    *
    * Scale shape: the WHERE conjuncts that translate to v1 filters
    * ([[exprFilter]]) prune provably-unaffected files via the zone maps —
    * a selective UPDATE over a 100 TB table rewrites only the files whose
    * ranges the predicate can touch. An untranslatable conjunct only costs
    * pruning, never correctness: every touched file is rewritten with the
    * predicate re-evaluated row-by-row (NULL/FALSE keeps the row
    * unchanged; every assignment reads the OLD row, per ANSI UPDATE), and
    * the result publishes in ONE atomic manifest swap. Assignments cast to
    * the column's declared type so the table schema never drifts. */
  private[graft] def updateWhere(dir: Path, rawSets: Seq[(String, String)],
      whereSql: Option[String]): Unit = withConflictRetry("UPDATE") {
    import org.apache.spark.sql.functions.{coalesce, col, expr, lit, when}
    assertWritable(dir, "UPDATE")
    val spark = org.apache.spark.sql.SparkSession.active
    val m = Manifest.read(dir).getOrElse(
      throw new IllegalStateException(s"UPDATE: no manifest at $dir"))
    // SET c = DEFAULT substitutes the declared default's SQL (NULL when
    // none — the ANSI rule) ONCE, so every downstream path (COW rewrite,
    // DV append, CDC postimages) evaluates the same expression
    val sets = rawSets.map {
      case (c, rhs) if rhs.trim.equalsIgnoreCase("default") =>
        c -> Manifest.defaultCols(m.props).collectFirst {
          case (n, sql) if n.equalsIgnoreCase(c) => sql
        }.getOrElse("NULL")
      case kv => kv
    }
    sets.foreach { case (c, _) =>
      if (!m.schema.fieldNames.exists(_.equalsIgnoreCase(c)))
        throw new IllegalArgumentException(
          s"UPDATE: column $c not in table (${m.schema.fieldNames.mkString(", ")})")
    }
    // ANSI rejects duplicate assignment; silently taking the first would
    // compute something the statement never said
    sets.groupBy(_._1.toLowerCase).collectFirst {
      case (c, as) if as.length > 1 => c
    }.foreach { c =>
      throw new IllegalArgumentException(s"UPDATE: column $c assigned more than once")
    }
    val pruning = whereSql.toSeq.flatMap { w =>
      conjuncts(spark.sessionState.sqlParser.parseExpression(w)).flatMap(exprFilter)
    }
    val (touch, keep) = m.entries.partition(e => e.rows > 0 &&
      pruning.forall(f => ManifestScanBuilder.mightMatch(f, e.stats)))
    if (touch.isEmpty) return
    val cond = coalesce(whereSql.map(expr).getOrElse(lit(true)), lit(false))
    val _ = keep
    // generated columns recompute from the POST-SET row (Delta's UPDATE
    // rule) — assigning one directly is rejected, like identity columns
    val gens = Manifest.generatedCols(m.props)
    val idSpecs = Manifest.identityCols(m.props)
    sets.foreach { case (c, _) =>
      gens.collectFirst { case (n, g) if n.equalsIgnoreCase(c) => g }.foreach { g =>
        throw new IllegalArgumentException(
          s"UPDATE: column $c is GENERATED ALWAYS AS ($g) — it recomputes " +
            "automatically; update its source columns instead")
      }
      if (idSpecs.keys.exists(_.equalsIgnoreCase(c)))
        throw new IllegalArgumentException(
          s"UPDATE: identity column $c cannot be assigned")
    }
    // second projection over the post-SET row: recomputing an untouched
    // row's generated column reproduces its value exactly (generation
    // expressions are deterministic by DDL contract), so applying it
    // unconditionally is sound and keeps one codegen stage
    val regen = m.schema.fields.toIndexedSeq.map { f =>
      gens.collectFirst { case (n, g) if n.equalsIgnoreCase(f.name) => g } match {
        case Some(g) => expr(g).cast(f.dataType).as(f.name)
        case None => col(f.name)
      }
    }
    def regenerated(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
      if (gens.isEmpty) df else df.select(regen: _*)
    val updCols = m.schema.fields.map { f =>
      sets.find(_._1.equalsIgnoreCase(f.name)) match {
        case Some((_, rhs)) => expr(rhs).cast(f.dataType).as(f.name)
        case None => col(f.name)
      }
    }
    // commit-time CDC: both images of every matching row — the preimage is
    // the old row verbatim, the postimage the same row through the SET
    // list (one bounded scan of the touched files, same pinned set and
    // predicate as the rewrite itself). Caveat, stated plainly: this is a
    // SEPARATE job re-evaluating the SET expressions, so a
    // NON-DETERMINISTIC rhs (rand(), current_timestamp) records
    // postimages that can differ from the rows the rewrite committed —
    // exact CDC is guaranteed for deterministic SET lists only (the same
    // caveat Delta documents for CDF + nondeterministic expressions).
    def cdcUpdates: Map[String, String] = writeCdc(dir, m, {
      val base = spark.read.format("graft.sources.GraftManifestSink")
        .option("path", dir.toString)
        .option("files", touch.map(_.name).mkString(","))
        .load().where(cond)
      base.select(m.schema.fieldNames.map(col).toIndexedSeq: _*)
        .withColumn("_change_type", lit("update_preimage"))
        .unionByName(regenerated(base.select(updCols.toIndexedSeq: _*))
          .withColumn("_change_type", lit("update_postimage")))
    })
    if (m.props.get("tbl.delete.dv").contains("true")) {
      // MERGE-ON-READ update (the Delta DV-update shape): append the
      // UPDATED copies of matching rows as new files, and mark the old
      // ordinals deleted in per-file vectors — a 1-row update of a 1 GB
      // file is a tiny append + an 8-byte sidecar, not a rewrite.
      // Non-matching rows of touched files stay in place (live: their
      // ordinals never enter a vector). Both jobs scan the SAME pinned
      // file set with the same deterministic predicate, so the appended
      // set and the deleted set describe the same rows.
      val appended = rewriteFiles(dir, m, touch,
        df => regenerated(df.filter(cond).select(updCols.toIndexedSeq: _*)))
      val hits = spark.read.format("graft.sources.GraftManifestSink")
        .option("path", dir.toString)
        .option("files", touch.map(_.name).mkString(","))
        .load().where(cond)
        .select(col("_file"), col("_pos"))
      val dvUpdated = vectorize(dir, touch, hits)
      publishReplacing(dir, m, dvUpdated.map(_._1),
        dvUpdated.flatMap(_._2) ++ appended, cdcUpdates)
    } else {
      refuseRewriteUnderRowTracking(m.props, "UPDATE (copy-on-write)")
      val rewritten = rewriteFiles(dir, m, touch, df => {
        val cols = m.schema.fields.map { f =>
          sets.find(_._1.equalsIgnoreCase(f.name)) match {
            case Some((_, rhs)) =>
              when(cond, expr(rhs).cast(f.dataType)).otherwise(col(f.name)).as(f.name)
            case None => col(f.name)
          }
        }
        regenerated(df.select(cols.toIndexedSeq: _*))
      })
      publishReplacing(dir, m, touch.map(_.name), rewritten, cdcUpdates)
    }
  }

  /** ROW-LEVEL CHANGE-DATA-FEED with pre/post images, derived at read
    * time (Delta's CDC-without-change-files mode): walk the snapshot
    * trail inside (from, to], and for each commit diff the files it
    * REPLACED (gone names, or same name with a changed row count /
    * deletion vector) against the files it ADDED — two bounded scans and
    * a multiset `exceptAll` each way, so rows a copy-on-write rewrite
    * merely CARRIED cancel out and only genuinely changed rows surface:
    *
    *  - pure append  → added rows as `insert`;
    *  - pure delete (files dropped / vectors grown, nothing new) →
    *    removed rows as `delete`;
    *  - a rewrite    → `update_preimage` / `update_postimage` pairs.
    *
    * Cost is O(files touched by the window's commits), never a full-table
    * scan — the per-commit file sets come straight from the archived
    * manifests. Approximation stated plainly: inside ONE mixed commit
    * (e.g. a MERGE that inserts and updates) row-level insert-vs-update
    * attribution is not derivable without per-row change files; all
    * non-cancelled added rows of such a commit surface as
    * `update_postimage`. Output = data columns + `_change_type` +
    * `_commit_version`. */
  private[graft] def changes(spark: org.apache.spark.sql.SparkSession,
      dir: Path, from: Int, to: Int): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.{abs, col, explode, lit, max, min, sequence, sum, when}
    require(from <= to, s"changes: from=$from > to=$to")
    val trail = Manifest.snapshotVersions(dir)
      .filter(v => v >= from && v <= to)
    if (from > 0 && !trail.headOption.contains(from))
      throw new IllegalArgumentException(
        s"changes: snapshot $from expired or never existed at $dir")
    def keyed(v: Int): Map[String, (Long, Option[String])] =
      if (v == 0) Map.empty
      else Manifest.readSnapshot(dir, v).map(_.entries.map(e =>
        e.name -> ((e.rows, e.dv.map(_._1)))).toMap).getOrElse(Map.empty)
    def scan(v: Int, files: Iterable[String]) =
      spark.read.format("graft.sources.GraftManifestSink")
        .option("path", dir.toString).option("snapshot", v.toString)
        .option("files", files.mkString(",")).load()
    // commit-time CDC preference: a commit whose snapshot carries a CDC
    // dir DIFFERENT from its predecessor's recorded its exact change rows
    // at write time ([[writeCdc]]) — replay them verbatim (insert-vs-
    // update attribution inside mixed commits is exact there, where the
    // diff below cannot attribute). An INHERITED value (appends, OPTIMIZE
    // carry the prop forward untouched) never claims the old rows.
    // strict prop read: `None` must mean "no prop", never "snapshot
    // vacuumed" — an expired predecessor with an INHERITED cdcDir on b
    // would otherwise misattribute an older commit's recorded rows to b
    def propOf(v: Int, p: String): Option[String] =
      if (v == 0) None
      else Manifest.readSnapshot(dir, v).getOrElse(throw new IllegalStateException(
        s"changes: snapshot $v expired (VACUUM RETAIN) at $dir — " +
          "that window is no longer exactly replayable")).props.get(p)
    def cdcOf(v: Int): Option[String] = propOf(v, Manifest.CdcDirProp)
    def cdcReplay(a: Int, b: Int): Option[org.apache.spark.sql.DataFrame] = {
      val bCdc = cdcOf(b)
      if (bCdc.isEmpty || bCdc == cdcOf(a)) None
      else {
        val sub = dir.resolve(bCdc.get)
        if (!Files.exists(sub.resolve("_manifest")))
          throw new IllegalStateException(
            s"changes: commit $b's CDC dir ${bCdc.get} was vacuumed — " +
              "that window is no longer exactly replayable")
        val cols = Manifest.readSnapshot(dir, b).get.schema.fieldNames.toSeq
        val df = spark.read.format("graft.sources.GraftManifestSink")
          .option("path", sub.toString).load()
        Some(df.select((cols :+ "_change_type").map(col): _*)
          .withColumn("_commit_version", lit(b)))
      }
    }
    def changeDiff(a: Int, b: Int): Option[org.apache.spark.sql.DataFrame] = {
      // a layout commit (OPTIMIZE / REORG PURGE — fresh dataChange stamp)
      // carries rows without changing content: skip it outright instead
      // of proving emptiness with two exceptAll jobs
      if (propOf(b, Manifest.DataChangeStampProp) !=
          propOf(a, Manifest.DataChangeStampProp)) return None
      val prev = keyed(a)
      val curr = keyed(b)
      val changed = curr.keySet.intersect(prev.keySet)
        .filter(n => curr(n) != prev(n))
      val removed = (prev.keySet -- curr.keySet) ++ changed
      val added = (curr.keySet -- prev.keySet) ++ changed
      val cols = Manifest.readSnapshot(dir, b).get.schema.fieldNames.toSeq
      def tag(df: org.apache.spark.sql.DataFrame, t: String) =
        df.select(cols.map(col): _*)
          .withColumn("_change_type", lit(t))
          .withColumn("_commit_version", lit(b))
      (removed.isEmpty, added.isEmpty) match {
        case (true, true) => None // props-only commit
        case (true, false) => Some(tag(scan(b, added), "insert"))
        case (false, true) => Some(tag(scan(a, removed), "delete"))
        case (false, false) =>
          // a rewrite commit: metadata alone cannot tell a COW DELETE (old
          // file out, thinner file in) from a COW UPDATE — the diff can: a
          // one-sided diff IS a pure delete / pure insert. Each emptiness
          // probe is one bounded job over this commit's own files.
          val pre = scan(a, removed).select(cols.map(col): _*)
          val post = scan(b, added).select(cols.map(col): _*)
          // ONE multiset diff for BOTH delta sides (r17, §2.4 — r16
          // materialized each side's exceptAll separately: two checkpoint
          // jobs that each scanned pre AND post, plus two isEmpty probe
          // jobs in the keyless branch — 4 jobs per rewrite window).
          // union + per-row side counts + one grouped aggregate IS
          // exceptAll's own evaluation strategy, run once for both
          // directions; the sides then derive narrowly from the
          // checkpointed group counts (multiplicity re-expansion keeps
          // exact multiset semantics), and emptiness of either side is
          // one driver lookup over the same frame.
          val diff = pre
            .withColumn("_graft_pre", lit(1L)).withColumn("_graft_post", lit(0L))
            .unionByName(post
              .withColumn("_graft_pre", lit(0L)).withColumn("_graft_post", lit(1L)))
            .groupBy(cols.map(col): _*)
            .agg(sum(col("_graft_pre")).as("_graft_pre"),
              sum(col("_graft_post")).as("_graft_post"))
            .where(col("_graft_pre") =!= col("_graft_post"))
            .localCheckpoint()
          def side(n: org.apache.spark.sql.Column): org.apache.spark.sql.DataFrame =
            diff.where(n > 0L)
              .withColumn("_graft_dup",
                explode(sequence(lit(1L), n)))
              .select(cols.map(col): _*)
          val preD = side(col("_graft_pre") - col("_graft_post"))
          val postD = side(col("_graft_post") - col("_graft_pre"))
          // a DECLARED row key (`TBLPROPERTIES ('key' = 'c1[,c2…]')`)
          // makes a MIXED commit's attribution exact WITHOUT the change
          // feed: a post-side row whose key exists on the pre side is an
          // update (both images); a fresh key is an insert; a vanished
          // key a delete — the key-anti/semi joins run over the two
          // delta-sized sides only, and SUBSUME the emptiness probes (a
          // pure append keys everything to `insert`, a pure delete to
          // `delete`, a carried-only rewrite to nothing) — two fewer
          // driver jobs per keyed commit. Declared keys are assumed
          // unique per row (the same contract MERGE's ON key carries);
          // without the prop the probe-classified approximation stands.
          val keyCols = Manifest.readSnapshot(dir, b)
            .flatMap(_.props.get("tbl.key"))
            .map(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty))
            .filter(ks => ks.nonEmpty &&
              ks.forall(k => cols.exists(_.equalsIgnoreCase(k))))
          keyCols match {
            case Some(ks) =>
              // ONE window over the fused diff attributes every row
              // (r17 — was two distinct-key frames + four semi/anti join
              // legs, each re-deriving its delta side): a key present on
              // both sides is an update (both images), a post-only key
              // an insert, a pre-only key a delete — exactly the old
              // join-leg classification under the declared unique-key
              // contract the joins already assumed.
              val w = org.apache.spark.sql.expressions.Window
                .partitionBy(ks.map(col): _*)
              val sides = diff
                .withColumn("_graft_dup", explode(sequence(lit(1L),
                  abs(col("_graft_pre") - col("_graft_post")))))
                .withColumn("_graft_side",
                  when(col("_graft_pre") > col("_graft_post"), lit("pre"))
                    .otherwise(lit("post")))
              val attributed = sides
                .withColumn("_graft_both",
                  min(col("_graft_side")).over(w) =!=
                    max(col("_graft_side")).over(w))
                .withColumn("_change_type",
                  when(col("_graft_side") === "post",
                    when(col("_graft_both"), "update_postimage")
                      .otherwise("insert"))
                    .otherwise(
                      when(col("_graft_both"), "update_preimage")
                        .otherwise("delete")))
                .withColumn("_commit_version", lit(b))
                .select((cols :+ "_change_type" :+ "_commit_version")
                  .map(col): _*)
              Some(attributed)
            case None =>
              // one aggregate over the checkpointed diff answers both
              // emptiness probes (r17 — was two isEmpty jobs)
              val flags = diff.agg(
                max(when(col("_graft_pre") > col("_graft_post"), 1)
                  .otherwise(0)),
                max(when(col("_graft_post") > col("_graft_pre"), 1)
                  .otherwise(0))).collect().head
              val preEmpty = flags.isNullAt(0) || flags.getInt(0) == 0
              val postEmpty = flags.isNullAt(1) || flags.getInt(1) == 0
              if (preEmpty && postEmpty) None // carried rows only (compaction)
              else if (postEmpty) Some(tag(preD, "delete"))
              else if (preEmpty) Some(tag(postD, "insert"))
              else Some(tag(preD, "update_preimage")
                .unionByName(tag(postD, "update_postimage")))
          }
      }
    }
    val base = if (from == 0) 0 +: trail else trail
    val frames = base.zip(base.drop(1)).flatMap { case (a, b) =>
      cdcReplay(a, b).orElse(changeDiff(a, b))
    }
    frames.reduceOption(_.unionByName(_)).getOrElse {
      val sch = Manifest.read(dir).map(_.schema).getOrElse(
        new StructType(Array.empty))
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(sch.fields :+
          StructField("_change_type", StringType, nullable = false) :+
          StructField("_commit_version", IntegerType, nullable = false)))
    }
  }

  /** Compact the table's CURRENT data files into ~`targetBytes`-sized
    * outputs (the streaming sink's one-file-per-epoch trail is the usual
    * victim). One distributed rewrite of the live files, one atomic swap;
    * replaced files stay on disk for archived snapshots — so compaction
    * never breaks time travel, and `VACUUM MANIFEST … RETAIN n SNAPSHOTS`
    * reaps the small files once their snapshots expire. No-op when the
    * layout is already at or under the target file count. Returns
    * (files before, files after). */
  private[graft] def optimize(dir: Path, targetBytes: Long,
      zorderByReq: Option[Seq[String]] = None,
      whereSql: Option[String] = None): (Int, Int) = withConflictRetry("OPTIMIZE") {
    import org.apache.spark.sql.functions.{col, expr}
    assertWritable(dir, "OPTIMIZE")
    val m = Manifest.read(dir).getOrElse(
      throw new IllegalStateException(s"OPTIMIZE: no manifest at $dir"))
    // a CLUSTER BY table re-clusters by its declared spec when OPTIMIZE
    // names no explicit ZORDER (the liquid-clustering maintenance rule);
    // the Z-interleave takes at most 3 dimensions
    val zorderBy = zorderByReq.orElse(
      Manifest.clusterByCols(m.props).map(_.take(3)))
    // `OPTIMIZE … WHERE pred` scopes the rewrite to the FILES the zone
    // maps cannot exclude for pred (file granularity — the Delta
    // partition-scoped OPTIMIZE shape): compacting one day of a 100 TB
    // table touches that day's files, nothing else. Untranslatable
    // conjuncts only cost scoping (more files compacted), never rows —
    // every scoped file is rewritten whole, no row is dropped.
    val pruning = whereSql.toSeq.flatMap { w =>
      conjuncts(org.apache.spark.sql.SparkSession.active
        .sessionState.sqlParser.parseExpression(w)).flatMap(exprFilter)
    }
    val scoped = m.entries.filter(e => e.rows > 0 &&
      pruning.forall(f => ManifestScanBuilder.mightMatch(f, e.stats)))
    if (scoped.isEmpty) return (0, 0)
    val chain = Manifest.resolveChain(dir)
    def sizeOf(e: ManifestFile): Long = {
      val p = Manifest.resolveData(chain, e.name)
      if (Files.exists(p)) Files.size(p) else 0L
    }
    // PLAIN compaction is BIN PACKING (the Delta rule): only files BELOW
    // ~the target participate — an at-size file is already optimal, and
    // rewriting it to merge a few stragglers would make compacting a
    // 100 TB table cost 100 TB. DV-bearing files join regardless of size
    // (compaction is the purge opportunity). A ZORDER request re-clusters
    // EVERY scoped file — the point is layout, not size.
    val live =
      if (zorderBy.isDefined) scoped
      else scoped.filter(e => e.dv.isDefined || sizeOf(e) < targetBytes * 9 / 10)
    if (live.isEmpty) return (scoped.length, scoped.length)
    val bytes = live.map(sizeOf).sum
    val n = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
    // no-op when the small-file set is already at or under the target count
    if (live.length <= n && zorderBy.isEmpty) return (live.length, live.length)
    val transform: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame =
      zorderBy match {
        case None => _.repartition(n)
        case Some(cols) =>
          val keys = cols.map(zScaleKey(m, live, _))
          // ONE column degenerates to plain range clustering (liquid-
          // clustering-style sort by the column itself — no interleave
          // needed when there is nothing to interleave with)
          val key = keys.length match {
            case 1 => keys(0)
            case 2 => s"zorder64(${keys(0)}, ${keys(1)})"
            case 3 => s"zorder3(${keys(0)}, ${keys(1)}, ${keys(2)})"
            case k => throw new IllegalArgumentException(
              s"ZORDER BY takes 1 to 3 columns, got $k")
          }
          df => df.withColumn("__graft_z", expr(key))
            .repartitionByRange(n, col("__graft_z"))
            .sortWithinPartitions("__graft_z")
            .drop("__graft_z")
      }
    refuseRewriteUnderRowTracking(m.props, "OPTIMIZE")
    val rewritten = rewriteFiles(dir, m, live, transform)
    publishReplacing(dir, m, live.map(_.name), rewritten,
      Manifest.noDataChangeStamp())
    (live.length, rewritten.length)
  }

  /** `REORG TABLE … APPLY (PURGE)` (Delta's statement): materialize the
    * deletion vectors by rewriting ONLY the files that carry `dv-*.bin`
    * sidecars — each rewritten file re-emits its live rows vector-free.
    * OPTIMIZE also purges vectors, but compacts every live file; REORG is
    * the scoped variant a 100 TB table needs — dropping the vectors from
    * a handful of DV-bearing files must not re-cluster the other million.
    * Untouched files keep their names (and so their zone maps, bucket
    * purity and OS cache locality); archived snapshots keep referencing
    * the vectored originals, so time travel still reads through the DVs
    * until VACUUM reaps them. Returns (files_purged, files_rewritten). */
  private[graft] def reorgPurge(dir: Path): (Int, Int) = withConflictRetry("REORG") {
    assertWritable(dir, "REORG")
    val m = Manifest.read(dir).getOrElse(
      throw new IllegalStateException(s"REORG: no manifest at $dir"))
    val vectored = m.entries.filter(_.dv.isDefined)
    if (vectored.isEmpty) return (0, 0)
    refuseRewriteUnderRowTracking(m.props, "REORG TABLE ... APPLY (PURGE)")
    val rewritten = rewriteFiles(dir, m, vectored, identity)
    publishReplacing(dir, m, vectored.map(_.name), rewritten,
      Manifest.noDataChangeStamp())
    (vectored.length, rewritten.length)
  }

  /** Order-preserving map of a numeric-ordered column onto the int key
    * `zorder64` interleaves: linear scale from the column's GLOBAL
    * [lo, hi] — read from the manifest's own zone maps, zero data scans —
    * onto ±2·10⁹. Monotone ⇒ the Z-order curve respects the column's
    * order, so after the clustered rewrite each file's min-max range is
    * narrow in BOTH dimensions. long/int/double cluster directly;
    * DATE/TIMESTAMP cluster through the SAME internal numeric encoding
    * the zone maps store (`unix_date` epoch days / `unix_micros` epoch
    * micros — the unit conversion the stats were gathered in, so lo/hi
    * and key expression agree). Strings have no linear scale and are
    * rejected explicitly. */
  private def zScaleKey(m: Manifest, live: Seq[ManifestFile], c: String): String = {
    val field = m.schema.fields.find(_.name.equalsIgnoreCase(c)).getOrElse(
      throw new IllegalArgumentException(
        s"ZORDER BY: column $c not in table (${m.schema.fieldNames.mkString(", ")})"))
    // STRING clustering key: the first 7 UTF-8 bytes as an unsigned
    // big-endian integer — monotone in UTF8_BINARY order (the order the
    // string zone maps store), so after the clustered rewrite each file
    // covers a narrow byte-prefix range and StartsWith/equality prune
    // sharply. Strings agreeing on their first 7 bytes share a key —
    // a clustering (not uniqueness) property, exactly what Z-order needs.
    if (field.dataType == StringType) {
      val ranges = live.flatMap(_.stats.strRanges.get(field.name))
      if (ranges.isEmpty)
        throw new IllegalArgumentException(
          s"ZORDER BY: $c has no zone-map stats to derive the key scale from")
      def key7(b64: String): Long = {
        val b = ColumnStats.unb64(b64)
        var v = 0L; var i = 0
        while (i < 7) {
          v = (v << 8) | (if (i < b.length) b(i) & 0xffL else 0L); i += 1
        }
        v
      }
      val lo = ranges.map(r => key7(r._1)).min
      val hi = ranges.map(r => key7(r._2)).max
      val numExpr = s"CAST(conv(hex(rpad(CAST(${field.name} AS BINARY), 7, " +
        s"x'00')), 16, 10) AS BIGINT)"
      return if (hi <= lo) "0" else {
        val scaled = s"((CAST($numExpr AS DOUBLE) - ${lo.toDouble}) / " +
          s"${(hi - lo).toDouble}) * 4.0E9 - 2.0E9"
        s"CAST(least(greatest(nanvl($scaled, 2.0E9), -2.0E9), 2.0E9) AS INT)"
      }
    }
    // the column's value in the zone maps' numeric unit
    val numExpr = field.dataType match {
      case LongType | IntegerType | DoubleType => field.name
      case DateType => s"unix_date(${field.name})"
      case TimestampType => s"unix_micros(${field.name})"
      case dt => throw new IllegalArgumentException(
        s"ZORDER BY: $c is ${dt.simpleString}; only long/int/double/date/" +
          "timestamp/string columns cluster")
    }
    val ranges = live.flatMap(_.stats.ranges.get(field.name))
    if (ranges.isEmpty) // no file carries stats → no spread to exploit
      throw new IllegalArgumentException(
        s"ZORDER BY: $c has no zone-map stats to derive the key scale from")
    val lo = ranges.map(_._1).min
    val hi = ranges.map(_._2).max
    if (hi <= lo) "0" // constant column: every row the same key bits
    else {
      // NaN/±Inf never enter the zone maps but may sit in the data —
      // nanvl + clamp pin them to the high end instead of an ANSI CAST
      // error (NaN sorts last in Spark's ordering too)
      val scaled = s"((CAST($numExpr AS DOUBLE) - ${lo.toDouble}) / " +
        s"${(hi - lo).toDouble}) * 4.0E9 - 2.0E9"
      s"CAST(least(greatest(nanvl($scaled, 2.0E9), -2.0E9), 2.0E9) AS INT)"
    }
  }

  /** `RESTORE TABLE … TO VERSION AS OF v`: publish archived snapshot `v`
    * as the CURRENT state — a metadata-only rollback (the old files are
    * still on disk unless VACUUM reaped them, which fails the restore
    * loudly up front). The restore itself archives the pre-restore state,
    * so a mistaken rollback is itself rollback-able. The streaming epoch
    * watermark stays MONOTONE: restoring data must not re-open the door to
    * replayed epochs, so the higher of (current, snapshot) lastEpoch
    * survives. Returns (files, rows) of the restored state. */
  private[graft] def restore(dir: Path, version: Int): (Int, Long) = {
    assertWritable(dir, "RESTORE")
    ManifestLock.withLock(dir) {
      val snap = Manifest.readSnapshot(dir, version).getOrElse(
        throw new IllegalArgumentException(
          s"RESTORE: snapshot $version expired or never existed at $dir"))
      val chain = Manifest.resolveChain(dir)
      val missing = snap.entries.filterNot(e =>
        Files.exists(Manifest.resolveData(chain, e.name)))
      if (missing.nonEmpty)
        throw new IllegalStateException(
          s"RESTORE: data file ${missing.head.name} of snapshot $version was " +
            "vacuumed — that version is no longer restorable")
      val curEpoch = Manifest.read(dir)
        .flatMap(_.props.get(Manifest.LastEpochProp)).map(_.toLong)
      val snapEpoch = snap.props.get(Manifest.LastEpochProp).map(_.toLong)
      // the layout-commit stamp is predecessor-relative: the restored
      // manifest must carry the CURRENT head's stamp value, not the
      // snapshot-era one — a RESTORE across an OPTIMIZE would otherwise
      // read as "stamp changed" = layout commit and be invisible to the
      // change feed (a restore IS a data change; the content diff must run)
      val curStamp = Manifest.read(dir)
        .flatMap(_.props.get(Manifest.DataChangeStampProp))
      val props = curEpoch.filter(c => snapEpoch.forall(_ < c))
        .map(c => snap.props + (Manifest.LastEpochProp -> c.toString))
        .getOrElse(snap.props) -
        // commit-scoped: the restored snapshot's old CDC pointer would
        // claim that era's DML rows as the RESTORE's own changes
        Manifest.CdcDirProp - Manifest.DataChangeStampProp ++
        curStamp.map(Manifest.DataChangeStampProp -> _)
      Manifest.write(dir, Manifest(snap.schema, snap.entries, props))
      (snap.entries.length, snap.entries.map(_.liveRows).sum)
    }
  }

  private[graft] def conjuncts(e: org.apache.spark.sql.catalyst.expressions.Expression)
    : Seq[org.apache.spark.sql.catalyst.expressions.Expression] = e match {
    case org.apache.spark.sql.catalyst.expressions.And(l, r) =>
      conjuncts(l) ++ conjuncts(r)
    case other => Seq(other)
  }

  /** A parsed (still-unresolved) WHERE term as a v1 pruning [[Filter]], or
    * `None` when the shape has no exact zone-map reading — the caller then
    * simply prunes less. Literals convert through
    * [[org.apache.spark.sql.catalyst.CatalystTypeConverters]] to the same
    * external values scan pushdown delivers, so the zone-map comparators
    * see the types they were property-tested against. */
  private[graft] def exprFilter(e: org.apache.spark.sql.catalyst.expressions.Expression)
    : Option[org.apache.spark.sql.sources.Filter] = {
    import org.apache.spark.sql.catalyst.{expressions => ce}
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    import org.apache.spark.sql.catalyst.CatalystTypeConverters
    import org.apache.spark.sql.sources._
    def name(a: ce.Expression): Option[String] = a match {
      case u: UnresolvedAttribute => Some(u.nameParts.last)
      case a: ce.Attribute => Some(a.name)
      case _ => None
    }
    def value(l: ce.Expression): Option[Any] = l match {
      case lit: ce.Literal if lit.value != null =>
        Some(CatalystTypeConverters.convertToScala(lit.value, lit.dataType))
      case _ => None
    }
    // comparisons translate in both operand orders (`c < 5` and `5 > c`)
    def bin(l: ce.Expression, r: ce.Expression)(
        mk: (String, Any) => Filter, flip: (String, Any) => Filter): Option[Filter] =
      (for (n <- name(l); v <- value(r)) yield mk(n, v))
        .orElse(for (n <- name(r); v <- value(l)) yield flip(n, v))
    e match {
      // BETWEEN arrives unresolved as 'between(in, lo, hi) — sugar for
      // in >= lo AND in <= hi
      case f: org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
        if f.nameParts.map(_.toLowerCase) == Seq("between") &&
          f.arguments.length == 3 =>
        for {
          a <- exprFilter(ce.GreaterThanOrEqual(f.arguments(0), f.arguments(1)))
          b <- exprFilter(ce.LessThanOrEqual(f.arguments(0), f.arguments(2)))
        } yield And(a, b)
      case ce.Between(in, lo, hi, _) => // the resolved node, same sugar
        for {
          a <- exprFilter(ce.GreaterThanOrEqual(in, lo))
          b <- exprFilter(ce.LessThanOrEqual(in, hi))
        } yield And(a, b)
      case ce.EqualTo(l, r) => bin(l, r)(EqualTo.apply, EqualTo.apply)
      case ce.GreaterThan(l, r) => bin(l, r)(GreaterThan.apply, LessThan.apply)
      case ce.GreaterThanOrEqual(l, r) =>
        bin(l, r)(GreaterThanOrEqual.apply, LessThanOrEqual.apply)
      case ce.LessThan(l, r) => bin(l, r)(LessThan.apply, GreaterThan.apply)
      case ce.LessThanOrEqual(l, r) =>
        bin(l, r)(LessThanOrEqual.apply, GreaterThanOrEqual.apply)
      case ce.In(a, vs) =>
        for {
          n <- name(a)
          lits <- Some(vs.map {
            case l: ce.Literal if l.value != null =>
              Some(CatalystTypeConverters.convertToScala(l.value, l.dataType))
            case _ => None
          }) if lits.forall(_.isDefined) && lits.nonEmpty
        } yield In(n, lits.flatten.toArray)
      case ce.And(l, r) =>
        for (a <- exprFilter(l); b <- exprFilter(r)) yield And(a, b)
      case ce.Or(l, r) => // both arms must translate — a dropped arm would
        // narrow the predicate and prune files the other arm matches
        for (a <- exprFilter(l); b <- exprFilter(r)) yield Or(a, b)
      case _ => None
    }
  }
}

// ---------------------------------------------------------------- write ----

private[sources] class ManifestWriteBuilder(dir: Path, schema: StructType, queryId: String)
  extends WriteBuilder with SupportsTruncate
  with org.apache.spark.sql.connector.write.SupportsOverwrite {
  private var overwrite = false
  private var replaceFilters: Option[Array[Filter]] = None
  override def truncate(): WriteBuilder = { overwrite = true; this }
  /** `df.writeTo(t).overwrite(cond)` — Delta's replaceWhere: atomically
    * replace exactly the rows matching `cond` with this write's data.
    * At commit, the predicate classifies the CURRENT entries via the
    * zone maps — provably-all-matching files drop metadata-only, cut
    * files rewrite keeping their non-matching rows — and the new files
    * land in the SAME atomic swap (a partition-overwrite rebuild of one
    * day touches that day's files, nothing else). `AlwaysTrue` is the
    * plain truncate. Spark only offers filters the source accepts, so an
    * untranslatable condition falls back to its own error path. */
  override def overwrite(filters: Array[Filter]): WriteBuilder = {
    if (filters.forall(_ == org.apache.spark.sql.sources.AlwaysTrue)) overwrite = true
    else replaceFilters = Some(filters)
    this
  }
  override def canOverwrite(filters: Array[Filter]): Boolean =
    filters.forall(f => ManifestScanBuilder.filterColumn(f).isDefined)
  override def build(): Write = {
    // NOTE: write-time schema evolution (spark.graft.schema.autoMerge)
    // deliberately does NOT run here — Spark's V2Writes rule executes
    // build() during query planning, so an EXPLAIN of the write would
    // mutate the table. Evolution runs at writer-factory creation
    // (execution time, driver-side, before any task writes) instead.
    // partition columns come from the CURRENT manifest (they are table-level
    // metadata, not per-write state); columns the incoming schema lacks are
    // skipped defensively — better an unclustered write than a failed one
    val partCols = Manifest.partitionCols(dir)
      .filter(c => schema.fieldNames.exists(_.equalsIgnoreCase(c)))
    // write-time contracts: NOT NULL from the table schema, CHECK from the
    // `check.*` properties — compiled once here (driver), enforced per row
    val m = Manifest.read(dir)
    val (notNull, checks) = Constraints.compile(
      m.map(_.schema).getOrElse(schema), schema,
      m.map(_.props).getOrElse(Map.empty))
    // generated/identity tables declare ACCEPT_ANY_SCHEMA (Spark skips its
    // output resolution), so the ONLY schema contract is the resolution
    // rule's output — this guard backstops any write path that bypassed it
    // (a session without the graft extensions, a hand-built plan): the
    // incoming schema must BE the table schema, column for column.
    m.map(_.props).foreach { props =>
      if (Manifest.generatedCols(props).nonEmpty ||
          Manifest.identityCols(props).nonEmpty) {
        val tbl = m.get.schema
        val prefixOk = schema.length >= tbl.length &&
          tbl.fields.zip(schema.fields).forall { case (t, w) =>
            t.name.equalsIgnoreCase(w.name) && t.dataType == w.dataType }
        // under autoMerge the resolution rule appends SOURCE-ONLY columns
        // after the table schema; evolution happens at execution (the
        // factory hook), so the guard must accept that exact shape here
        val autoMergeOn = org.apache.spark.sql.SparkSession.active.conf
          .getOption("spark.graft.schema.autoMerge").contains("true")
        val exact =
          if (autoMergeOn)
            prefixOk && schema.fields.drop(tbl.length).forall(w =>
              !tbl.fieldNames.exists(_.equalsIgnoreCase(w.name)))
          else schema.length == tbl.length && prefixOk
        if (!exact) throw new IllegalArgumentException(
          s"write to a generated/identity-column table must carry exactly " +
            s"the table schema (${tbl.fieldNames.mkString(", ")}), got " +
            s"(${schema.fieldNames.mkString(", ")}) — computed columns " +
            "resolve through graft.functions.GraftExtensions; ensure " +
            "spark.sql.extensions is set")
      }
    }
    // bucket-partitioned table: every write fans rows out to bucket-pure
    // files (the SPJ layout contract); a write schema missing the bucket
    // column (or carrying an unbucketable type) falls back to plain files,
    // which merely withholds the table's SPJ claim — never unsound
    val bucketSpec = m.flatMap(mm => Manifest.bucketSpec(mm.props)).flatMap {
      case (n, c) =>
        val i = schema.fieldNames.indexWhere(_.equalsIgnoreCase(c))
        if (i >= 0 && BucketHash.supported(schema.fields(i).dataType))
          Some((n, i, c))
        else None
    }
    new ManifestWrite(dir, schema, queryId, overwrite, partCols,
      Manifest.bloomCols(dir), Manifest.ndvCols(dir), notNull, checks,
      m.flatMap(_.props.get("tbl.write.targetFileSize"))
        .flatMap(v => scala.util.Try(v.toLong).toOption).filter(_ > 0)
        .getOrElse(0L), bucketSpec, replaceFilters)
  }
}

/** The logical write. For a PARTITIONED table it asks Spark for a range
  * distribution + in-partition sort on the partition columns
  * ([[RequiresDistributionAndOrdering]]) — Catalyst inserts the exchange
  * and sort, AQE sizes the partitions — so each task writes a file
  * covering a NARROW contiguous key range and the zone maps prune
  * partition predicates as sharply as a directory layout would, without
  * one-file-per-value explosion. Unpartitioned tables request nothing. */
private[sources] class ManifestWrite(dir: Path, schema: StructType, queryId: String,
    overwrite: Boolean, partCols: Seq[String], bloomCols: Seq[String],
    ndvCols: Seq[String] = Seq.empty,
    notNull: Seq[(Int, String)] = Seq.empty,
    checks: Seq[(String, org.apache.spark.sql.catalyst.expressions.Expression)] = Seq.empty,
    advisoryBytes: Long = 0L,
    bucketSpec: Option[(Int, Int, String)] = None,
    replaceFilters: Option[Array[Filter]] = None)
  extends Write with org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering {
  import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
  import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection, SortOrder}

  private def orders: Array[SortOrder] =
    partCols.map(c => Expressions.sort(Expressions.column(c),
      SortDirection.ASCENDING)).toArray

  override def requiredDistribution(): Distribution =
    if (partCols.isEmpty) Distributions.unspecified()
    else Distributions.ordered(orders)
  override def requiredOrdering(): Array[SortOrder] =
    if (partCols.isEmpty) Array.empty else orders
  // clustering is a layout optimization: if a plan can't satisfy it (e.g.
  // a continuous-mode stream), an unclustered write is still correct
  override def distributionStrictlyRequired(): Boolean = false
  /** TBLPROPERTIES('write.targetFileSize'='<bytes>') — AQE sizes the
    * write's exchange partitions toward the target, so each task's output
    * file approaches it (Delta's targetFileSize knob). 0 = Spark's
    * advisory default. Only a clustered (partitioned-table) write has an
    * exchange to size. */
  override def advisoryPartitionSizeInBytes(): Long =
    if (partCols.isEmpty) 0L else advisoryBytes // Spark rejects an advisory
    // size on an unspecified distribution — only clustered writes have an
    // exchange to size

  override def toBatch: BatchWrite =
    new ManifestBatchWrite(dir, schema, queryId, overwrite, bloomCols, ndvCols,
      notNull, checks, bucketSpec, replaceFilters)
  override def toStreaming: StreamingWrite = {
    replaceFilters.foreach(_ => throw new UnsupportedOperationException(
      "replaceWhere overwrite is a batch operation"))
    // a streaming write bypasses the batch resolution rule, so the only
    // way rows could arrive is with EXPLICIT identity values — which a
    // GENERATED ALWAYS AS IDENTITY column forbids (BY DEFAULT tables
    // accept the stream's own values; generated expression columns are
    // fine either way, their CHECK property validates each row)
    Manifest.read(dir).map(_.props).foreach { p =>
      val strict = Manifest.identityCols(p).collect {
        case (c, s) if !s.allowExplicit => c }
      if (strict.nonEmpty) throw new UnsupportedOperationException(
        s"streaming write: identity column(s) ${strict.mkString(", ")} are " +
          "GENERATED ALWAYS AS IDENTITY — streaming writes cannot compute " +
          "them; declare GENERATED BY DEFAULT AS IDENTITY to stream explicit values")
    }
    new ManifestStreamingWrite(dir, schema, queryId, overwrite, bloomCols, ndvCols,
      notNull, checks, bucketSpec)
  }
}

/** Write-time data-quality contracts on managed tables:
  *  - NOT NULL rides the table schema (the manifest codec persists
  *    nullability), rejected per row at the writer;
  *  - CHECK constraints are table properties `check.<name> = '<sql
  *    predicate>'` (`TBLPROPERTIES('check.pos'='n_chars > 0')`), compiled
  *    ONCE per write on the driver — parsed, analyzed against the write
  *    schema (implicit casts applied), bound to row positions — and
  *    evaluated interpreted per row at the writer (a handful of
  *    comparisons; constraint checks never enter a codegen hot loop).
  * SQL CHECK semantics: NULL/unknown passes, only FALSE rejects. A
  * violating row fails its task → the job aborts → staged files drop and
  * the table is untouched (the commit protocol's atomicity is the
  * enforcement guarantee). The Delta invariants model. */
private[sources] object Constraints {
  import org.apache.spark.sql.catalyst.expressions.{AttributeReference, BoundReference, Expression}
  import org.apache.spark.sql.catalyst.plans.logical.Project

  val CheckPropPrefix: String = GraftCatalog.TblPropPrefix + "check."

  /** Analyze `sql` as a boolean row-level predicate of `schema`; returns
    * the bound expression. Throws (in CHECK-constraint terms) on
    * non-boolean, aggregate/window, nondeterministic, or unresolvable
    * predicates — used both at DDL time (fail the SET) and write time. */
  private[sources] def bind(schema: StructType, name: String, sql: String): Expression = {
    val spark = org.apache.spark.sql.SparkSession.active
    val df = spark.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](), schema)
    val analyzed = try df.select(
      org.apache.spark.sql.functions.expr(sql).cast(BooleanType).as("__c"))
      .queryExecution.analyzed
    catch {
      case e: Exception => throw new IllegalArgumentException(
        s"CHECK constraint $name: '$sql' does not analyze against " +
          s"(${schema.fieldNames.mkString(", ")}): ${e.getMessage}")
    }
    val project = analyzed match {
      case p: Project => p
      case _ => throw new IllegalArgumentException(
        s"CHECK constraint $name: '$sql' must be a row-level predicate " +
          "(no aggregates or window functions)")
    }
    val attrs = project.child.output
    val bound = project.projectList.head.transformUp {
      case a: AttributeReference =>
        BoundReference(attrs.indexWhere(_.exprId == a.exprId), a.dataType, a.nullable)
    }
    if (!bound.deterministic)
      throw new IllegalArgumentException(
        s"CHECK constraint $name: '$sql' must be deterministic")
    bound
  }

  /** DDL-time validation — a constraint that cannot bind is rejected at
    * SET/CREATE, never stored to fail every future write. */
  def validate(schema: StructType, propKey: String, sql: String): Unit =
    if (propKey.startsWith(CheckPropPrefix)) {
      bind(schema, propKey.stripPrefix(CheckPropPrefix), sql); ()
    }

  /** Column names a CHECK predicate's SQL text references (syntactic —
    * used to refuse renaming a column out from under a stored check). */
  def referencedColumns(sql: String): Seq[String] =
    try org.apache.spark.sql.catalyst.parser.CatalystSqlParser.parseExpression(sql)
      .collect {
        case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
          a.nameParts.last
      }
    catch { case _: Exception => Seq.empty } // unparseable → nothing to protect

  /** Compile the table's contracts against this write's schema:
    * (NOT NULL positions+names, bound CHECK predicates). */
  def compile(tableSchema: StructType, writeSchema: StructType,
      props: Map[String, String]): (Seq[(Int, String)], Seq[(String, Expression)]) = {
    val notNull = tableSchema.fields.filter(!_.nullable).toSeq.flatMap { f =>
      val i = writeSchema.fieldNames.indexWhere(_.equalsIgnoreCase(f.name))
      if (i >= 0) Some((i, f.name)) else None
    }
    val checks = props.toSeq.sortBy(_._1).collect {
      case (k, sql) if k.startsWith(CheckPropPrefix) =>
        k.stripPrefix(CheckPropPrefix) -> bind(writeSchema, k, sql)
    }
    (notNull, checks)
  }
}

private[sources] case class StagedFile(name: String, rows: Long, stats: String,
    cols: Int, index: String = "", blobs: String = "") extends WriterCommitMessage

/** One task's commit when it wrote SEVERAL files — the bucket fanout
  * writer's message (one staged file per bucket id the task saw). */
private[sources] case class StagedFiles(files: Seq[StagedFile])
  extends WriterCommitMessage

private[sources] object ManifestCommit {
  /** Shared promote step: move the surviving attempts' staged files into
    * the table directory and turn their commit messages into manifest
    * entries. Only the subsequent manifest swap makes them visible. */
  def promote(dir: Path, messages: Array[WriterCommitMessage]): Seq[ManifestFile] =
    messages.toSeq.flatMap {
      case s: StagedFile => Seq(s)
      case StagedFiles(ms) => ms
    }.map { case StagedFile(name, rows, stats, cols, index, blobs) =>
      Files.move(dir.resolve("_staging").resolve(name), dir.resolve(name),
        StandardCopyOption.REPLACE_EXISTING)
      if (blobs.nonEmpty) // the bloom/NDV sidecar promotes with its file
        Files.move(dir.resolve("_staging").resolve(blobs), dir.resolve(blobs),
          StandardCopyOption.REPLACE_EXISTING)
      ManifestFile.raw(name, rows, stats, cols, indexRaw = index, dir = dir)
    }

  /** Shared abort step: this query's staged files (all attempts) are garbage. */
  def dropStaged(dir: Path, queryId: String): Unit = {
    val staging = dir.resolve("_staging")
    if (Files.exists(staging)) {
      val s = Files.list(staging)
      try s.iterator().asScala
        .filter(_.getFileName.toString.contains(queryId))
        .foreach(Files.deleteIfExists(_))
      finally s.close()
    }
  }
}

private[sources] class ManifestBatchWrite(dir: Path, schema: StructType,
    queryId: String, overwrite: Boolean, bloomCols: Seq[String] = Seq.empty,
    ndvCols: Seq[String] = Seq.empty,
    notNull: Seq[(Int, String)] = Seq.empty,
    checks: Seq[(String, org.apache.spark.sql.catalyst.expressions.Expression)] = Seq.empty,
    bucketSpec: Option[(Int, Int, String)] = None,
    replaceFilters: Option[Array[Filter]] = None)
  extends BatchWrite {

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    // WRITE-TIME SCHEMA EVOLUTION (Delta's mergeSchema, gated by the same
    // flag as MERGE evolution): under spark.graft.schema.autoMerge=true a
    // write carrying source-only columns ADDs them to the table first — a
    // metadata-only ALTER in the evolution's own commit; existing files
    // read the new columns as NULL. This hook runs at EXECUTION time on
    // the driver (job start), never during planning — EXPLAIN of the
    // write must not mutate the table. Idempotent across task retries.
    if (org.apache.spark.sql.SparkSession.active.conf
        .getOption("spark.graft.schema.autoMerge").contains("true"))
      ManifestTable.evolveForWrite(dir, schema)
    ManifestWriterFactory(dir.toString, schema, queryId, bloomCols, ndvCols,
      notNull, checks, bucketSpec)
  }

  /** Driver-side atomic publish: promote exactly the surviving attempts'
    * staged files, then swap the manifest. Readers either see the old
    * manifest or the new one — never a partial file set. */
  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val committed = ManifestCommit.promote(dir, messages)
    // replaceWhere (Delta's predicate overwrite): drop the current files
    // the zone maps PROVE all-matching, rewrite the cut files keeping
    // their non-matching rows (one bounded job), and land the new files —
    // all in the single conflict-checked swap publishReplacing performs.
    // A partition-overwrite rebuild of one day touches that day's files,
    // never the other 10^6. New rows are NOT validated against the
    // predicate (Delta's optional constraintCheck) — the caller owns the
    // contract. CDF of such a commit uses the read-time diff (exact with
    // a declared tbl.key, documented approximation otherwise).
    replaceFilters.foreach { filters =>
      import org.apache.spark.sql.functions.{coalesce, lit, not}
      val m = Manifest.read(dir).getOrElse(
        Manifest(Manifest.relaxNullability(schema), Seq.empty))
      val (drop, rest) = m.entries.partition(e =>
        filters.forall(f => ManifestScanBuilder.mustMatchAll(f, e.stats)))
      val (cut, _) = rest.partition(e => e.rows > 0 &&
        filters.forall(f => ManifestScanBuilder.mightMatch(f, e.stats)))
      val pred = filters.map(f => ManifestScanBuilder.filterColumn(f).getOrElse(
        throw new UnsupportedOperationException(
          s"replaceWhere: cannot evaluate pushed filter $f row-by-row")))
        .reduceOption(_ && _).getOrElse(lit(true))
      val rewritten =
        if (cut.isEmpty) Seq.empty
        else {
          ManifestTable.refuseRewriteUnderRowTracking(m.props,
            "replaceWhere (partial-file rewrite)")
          ManifestTable.rewriteFiles(dir, m, cut,
            df => df.filter(not(coalesce(pred, lit(false)))))
        }
      ManifestTable.publishReplacing(dir, m, (drop ++ cut).map(_.name),
        rewritten ++ committed,
        Manifest.identityCommitProps(m.props, committed))
      ManifestTable.maybeAutoCompact(dir)
      ManifestTable.maybeAutoRefreshIndexes(dir)
      return
    }
    // truncate drops old files from the CURRENT manifest only — they stay
    // on disk because archived snapshots still reference them (time travel);
    // `VACUUM MANIFEST ... RETAIN n SNAPSHOTS` expires them later. Table
    // properties (e.g. the streaming epoch watermark) survive both modes.
    // The read-modify-write runs under the table's commit lock so two
    // concurrent append jobs both land (the loser of the old race left its
    // files unreferenced — silent loss).
    ManifestLock.withLock(dir) {
      val prevM = Manifest.read(dir)
      val prev = if (overwrite) Seq.empty else prevM.map(_.entries).getOrElse(Seq.empty)
      // the TABLE schema (with its nullability contract) is the manifest's,
      // not this write's — a query whose output happens to be non-nullable
      // (literals, RANGE ids) must never narrow the table to NOT NULL. A
      // FIRST path-addressed write relaxes to nullable for the same
      // reason: the NOT NULL contract comes from catalog DDL (which
      // writes the manifest before any data), never from the accident of
      // a first batch's tuple encoding.
      val prevProps = prevM.map(_.props).getOrElse(Map.empty)
      Manifest.write(dir,
        Manifest(prevM.map(_.schema).getOrElse(Manifest.relaxNullability(schema)),
          prev ++ committed,
          Manifest.sealRowTracking(
            prevProps ++ Manifest.identityCommitProps(prevProps, committed),
            prev ++ committed)))
    }
    ManifestTable.maybeAutoCompact(dir)
    ManifestTable.maybeAutoRefreshIndexes(dir)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    ManifestCommit.dropStaged(dir, queryId)
}

/** The STREAMING half of the sink: micro-batch epochs commit through the
  * SAME atomic manifest swap as batch jobs, giving an end-to-end
  * exactly-once managed streaming table (pairs with the DSv2 streaming
  * READ in [[GraftDocsSource]]) without `foreachBatch` glue:
  *
  *  - each epoch's tasks stage uniquely-named files (name carries the
  *    epoch), so a replayed epoch can never collide with its first run;
  *  - `commit(epochId, …)` records the epoch in the manifest's `lastEpoch`
  *    property IN THE SAME atomic swap that publishes the files — there is
  *    no window where data is visible but the epoch unrecorded (or vice
  *    versa), which is what makes restart replay idempotent;
  *  - a replayed epoch (engine restarted after writing the offset WAL but
  *    before recording its own commit) re-delivers the SAME batch with the
  *    same epochId: the sink sees `epochId <= lastEpoch`, drops the
  *    replayed staged files and publishes nothing — exactly-once at the
  *    table level, the Delta/Iceberg streaming-sink txn-version pattern;
  *  - every epoch is also an archived snapshot, so time travel works
  *    across stream progress;
  *  - `outputMode("complete")` (Spark calls `truncate()` on the builder)
  *    REPLACES the table every epoch instead of appending — the aggregate
  *    semantics complete mode promises.
  *
  * Contract: ONE streaming writer AT A TIME per table directory (same
  * single-writer contract as batch — concurrent streams would race the
  * manifest swap); sequential different queries are safe because each has
  * its own epoch watermark. */
private[sources] class ManifestStreamingWrite(dir: Path, schema: StructType,
    queryId: String, overwrite: Boolean, bloomCols: Seq[String] = Seq.empty,
    ndvCols: Seq[String] = Seq.empty,
    notNull: Seq[(Int, String)] = Seq.empty,
    checks: Seq[(String, org.apache.spark.sql.catalyst.expressions.Expression)] = Seq.empty,
    bucketSpec: Option[(Int, Int, String)] = None)
  extends StreamingWrite {

  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): StreamingDataWriterFactory = {
    // execution-time schema evolution, mirroring the batch factory (the
    // write builder must stay mutation-free — it runs during planning)
    if (org.apache.spark.sql.SparkSession.active.conf
        .getOption("spark.graft.schema.autoMerge").contains("true"))
      ManifestTable.evolveForWrite(dir, schema)
    ManifestWriterFactory(dir.toString, schema, queryId, bloomCols, ndvCols,
      notNull, checks, bucketSpec)
  }

  // the watermark is KEYED BY STREAMING QUERY ID (stable across restarts —
  // Spark persists it in the checkpoint and passes it as the write's
  // queryId), the Delta/Iceberg txn-version pattern: a restart of the SAME
  // query replays under the same key and dedups, while a NEW query (fresh
  // checkpoint) into an existing table starts at its own watermark and
  // loses nothing
  private val epochProp = s"${Manifest.LastEpochProp}.$queryId"

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    // the idempotence check and the publish must be one critical section —
    // same commit lock as batch writes
    val published = ManifestLock.withLock(dir) {
      val prevM = Manifest.read(dir)
      val last = prevM.flatMap(_.props.get(epochProp)).map(_.toLong)
      if (last.exists(_ >= epochId)) {
        // replayed epoch after a restart — already published, drop duplicates
        messages.toSeq.flatMap {
          case s: StagedFile => Seq(s)
          case StagedFiles(ms) => ms
        }.foreach { s =>
          Files.deleteIfExists(dir.resolve("_staging").resolve(s.name))
          if (s.blobs.nonEmpty)
            Files.deleteIfExists(dir.resolve("_staging").resolve(s.blobs))
        }
        false
      } else {
        val committed = ManifestCommit.promote(dir, messages)
        // complete-mode streaming (truncate()) REPLACES the table every epoch
        // — appending would duplicate each group's aggregate per epoch; the
        // superseded epochs stay readable as archived snapshots
        val prev =
          if (overwrite) Seq.empty
          else prevM.map(_.entries).getOrElse(Seq.empty)
        // BY DEFAULT identity streams carry explicit values — advance the
        // high-water mark so later batch inserts never reuse their range
        val prevProps = prevM.map(_.props).getOrElse(Map.empty)
        val props = prevProps +
          (epochProp -> epochId.toString) ++
          Manifest.identityCommitProps(prevProps, committed)
        // keep the TABLE schema, as in the batch commit
        Manifest.write(dir,
          Manifest(prevM.map(_.schema).getOrElse(Manifest.relaxNullability(schema)),
            prev ++ committed,
            Manifest.sealRowTracking(props, prev ++ committed)))
        true
      }
    }
    // OUTSIDE the commit lock: compaction takes the same lock itself
    if (published) {
      ManifestTable.maybeAutoCompact(dir)
      ManifestTable.maybeAutoRefreshIndexes(dir)
    }
  }

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
    ManifestCommit.dropStaged(dir, queryId)
}

private[sources] case class ManifestWriterFactory(dir: String, schema: StructType,
    queryId: String, bloomCols: Seq[String] = Seq.empty,
    ndvCols: Seq[String] = Seq.empty,
    notNull: Seq[(Int, String)] = Seq.empty,
    checks: Seq[(String, org.apache.spark.sql.catalyst.expressions.Expression)] = Seq.empty,
    bucketSpec: Option[(Int, Int, String)] = None) // (numBuckets, colIdx, declared col)
  extends DataWriterFactory with StreamingDataWriterFactory {
  private def writer(base: String): DataWriter[InternalRow] = bucketSpec match {
    case Some((n, i, c)) =>
      new BucketFanoutWriter(Paths.get(dir), schema, base, n, i, c, bloomCols,
        ndvCols, notNull, checks)
    case None =>
      new ManifestDataWriter(Paths.get(dir), schema, s"$base.tsv", bloomCols,
        ndvCols, notNull, checks)
  }
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    writer(s"part-$partitionId-$taskId-$queryId")
  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] =
    writer(s"part-$partitionId-$taskId-$queryId-e$epochId")
}

/** Task writer for a BUCKET-PARTITIONED table: routes each row to a
  * bucket-pure data file via [[BucketHash]] (Iceberg's fanout writer). Each
  * inner file records its bucket id in its stats line
  * ([[Manifest.bucketStatKey]]) — the purity evidence [[ManifestScan]]
  * needs to report `KeyGroupedPartitioning` for storage-partitioned joins.
  * At most `numBuckets` files (and writers) per task, whatever the task's
  * input distribution — the table's range-clustering contract keeps each
  * one's VALUE zone maps narrow, this writer keeps each one BUCKET-pure. */
private[sources] class BucketFanoutWriter(dir: Path, schema: StructType,
    baseName: String, numBuckets: Int, colIdx: Int, bucketCol: String,
    bloomCols: Seq[String], ndvCols: Seq[String],
    notNull: Seq[(Int, String)],
    checks: Seq[(String, org.apache.spark.sql.catalyst.expressions.Expression)])
  extends DataWriter[InternalRow] {
  private val dt = schema.fields(colIdx).dataType
  private val writers = new java.util.HashMap[Int, ManifestDataWriter]

  override def write(row: InternalRow): Unit = {
    val b = BucketHash.ofRow(row, colIdx, dt, numBuckets)
    var w = writers.get(b)
    if (w == null) {
      w = new ManifestDataWriter(dir, schema, s"$baseName-b$b.tsv", bloomCols,
        ndvCols, notNull, checks,
        Map(Manifest.bucketStatKey(numBuckets, bucketCol) ->
          ((BigDecimal(b), BigDecimal(b)))))
      writers.put(b, w)
    }
    w.write(row)
  }
  override def commit(): WriterCommitMessage =
    StagedFiles(writers.values.asScala.toSeq
      .map(_.commit().asInstanceOf[StagedFile]))
  override def abort(): Unit = writers.values.asScala.foreach(_.abort())
  override def close(): Unit = writers.values.asScala.foreach(_.close())
}

private[sources] object ManifestDataWriter {
  /** Line-index sampling stride (rows): ~16 B of index per 64k rows,
    * enough granularity to split a multi-GB file into balanced
    * byte-range partitions. Overridable for tests via the system
    * property `graft.write.indexStride`. */
  def IndexStride: Int =
    sys.props.get("graft.write.indexStride").map(_.toInt).getOrElse(65536)
}

private[sources] class ManifestDataWriter(dir: Path, schema: StructType, name: String,
    bloomCols: Seq[String] = Seq.empty, ndvCols: Seq[String] = Seq.empty,
    notNull: Seq[(Int, String)] = Seq.empty,
    checks: Seq[(String, org.apache.spark.sql.catalyst.expressions.Expression)] = Seq.empty,
    extraRanges: Map[String, (BigDecimal, BigDecimal)] = Map.empty)
  extends DataWriter[InternalRow] {
  private val staging = { // unique name per (partition, task attempt, query)
    val s = dir.resolve("_staging"); Files.createDirectories(s); s
  }
  // byte-counting stream under the buffered writer: every IndexStride-th
  // line's byte offset is sampled (after a flush, so the count is exact)
  // into a SPARSE LINE INDEX — what lets the scan split a large file into
  // byte-range partitions with known line numbers (see
  // [[ManifestScan.planInputPartitions]]). ~16 B per 64k rows.
  private val rawOut =
    new java.io.BufferedOutputStream(
      Files.newOutputStream(staging.resolve(name))) {
    var written: Long = 0L // `count` is BufferedOutputStream's buffer fill
    override def write(b: Int): Unit = { super.write(b); written += 1 }
    override def write(b: Array[Byte], off: Int, len: Int): Unit = {
      super.write(b, off, len); written += len
    }
  }
  private val out = new java.io.BufferedWriter(
    new java.io.OutputStreamWriter(rawOut, UTF_8))
  private val lineIndex = Seq.newBuilder[Long]
  private var rows = 0L
  // zone map, gathered in the same pass that writes the rows: min/max per
  // numeric column (null cells skipped — absent range never prunes)
  // numeric-ordered columns: long/int/double/float/decimal plus date (int
  // days) and timestamp (long micros) — min/max in the internal numeric
  // encoding. Float bounds use the float's EXACT double widening —
  // the same mapping the probe side's num() applies to float literals,
  // so range comparisons agree bit-for-bit.
  private val numIdx = schema.fields.zipWithIndex.collect {
    case (f, i) if f.dataType == LongType || f.dataType == IntegerType ||
      f.dataType == DoubleType ||
      f.dataType == org.apache.spark.sql.types.FloatType ||
      f.dataType.isInstanceOf[org.apache.spark.sql.types.DecimalType] ||
      f.dataType == DateType || f.dataType == TimestampType => i
  }
  // string columns: min/max in raw UTF-8 byte order (bounded at commit by
  // ColumnStats' widening truncation)
  private val strIdx = schema.fields.zipWithIndex.collect {
    case (f, i) if f.dataType == StringType => i
  }
  private val mins = new Array[BigDecimal](schema.length)
  private val maxs = new Array[BigDecimal](schema.length)
  private val minB = new Array[Array[Byte]](schema.length)
  private val maxB = new Array[Array[Byte]](schema.length)
  // a NULL or non-finite cell makes the column's range "incomplete": still
  // sound for pruning, never sufficient to prove a full-file match
  private val partial = new Array[Boolean](schema.length)
  // bloom builders for the configured point-lookup columns (see
  // [[FileBloom]]); only types with a stable hash encoding participate —
  // a configured column of another type is skipped, which never unsounds
  // pruning (absent bloom = no prune)
  private val bloomIdx = schema.fields.zipWithIndex.collect {
    case (f, i) if bloomCols.exists(_.equalsIgnoreCase(f.name)) &&
      (f.dataType == LongType || f.dataType == IntegerType ||
        f.dataType == StringType || f.dataType == DateType ||
        f.dataType == TimestampType) => i
  }
  private val bloomB = {
    val a = new Array[FileBloom.Builder](schema.length)
    bloomIdx.foreach(i => a(i) = new FileBloom.Builder)
    a
  }
  // KMV distinct sketches for the configured NDV columns — O(K) memory
  // per column, gathered in the same pass (see [[KmvSketch]])
  private val ndvIdx = schema.fields.zipWithIndex.collect {
    case (f, i) if ndvCols.exists(_.equalsIgnoreCase(f.name)) &&
      (f.dataType == LongType || f.dataType == IntegerType ||
        f.dataType == DoubleType || f.dataType == StringType ||
        f.dataType == DateType || f.dataType == TimestampType) => i
  }
  private val ndvB = {
    val a = new Array[KmvSketch.Builder](schema.length)
    ndvIdx.foreach(i => a(i) = new KmvSketch.Builder)
    a
  }

  override def write(row: InternalRow): Unit = {
    // write-time contracts FIRST — a violating row must not reach the
    // staged file (the failed task aborts, staged output drops, the
    // table stays untouched)
    notNull.foreach { case (i, n) =>
      if (row.isNullAt(i))
        throw new IllegalStateException(
          s"NOT NULL constraint violated: column $n received NULL")
    }
    checks.foreach { case (n, e) =>
      if (e.eval(row) == false) // SQL CHECK: NULL/unknown passes, FALSE rejects
        throw new IllegalStateException(s"CHECK constraint $n violated")
    }
    if (rows % ManifestDataWriter.IndexStride == 0) {
      out.flush() // push buffered chars so the byte count is exact
      lineIndex += rawOut.written
    }
    out.write(GraftManifestSink.render(row, schema)); out.write("\n"); rows += 1
    numIdx.foreach { i =>
      if (row.isNullAt(i)) partial(i) = true
      else {
        val v: Option[BigDecimal] = schema.fields(i).dataType match {
          case LongType | TimestampType => Some(BigDecimal(row.getLong(i)))
          case IntegerType | DateType => Some(BigDecimal(row.getInt(i)))
          case DoubleType =>
            val d = row.getDouble(i)
            if (java.lang.Double.isFinite(d)) Some(BigDecimal(d))
            else { partial(i) = true; None } // NaN/Inf: no BigDecimal, no range update
          case org.apache.spark.sql.types.FloatType =>
            val fl = row.getFloat(i)
            if (java.lang.Float.isFinite(fl)) Some(BigDecimal(fl.toDouble))
            else { partial(i) = true; None }
          case d: org.apache.spark.sql.types.DecimalType =>
            Some(BigDecimal(row.getDecimal(i, d.precision, d.scale).toJavaBigDecimal))
        }
        v.foreach { x =>
          if (mins(i) == null || x < mins(i)) mins(i) = x
          if (maxs(i) == null || x > maxs(i)) maxs(i) = x
        }
      }
    }
    strIdx.foreach { i =>
      if (row.isNullAt(i)) partial(i) = true
      else {
        val b = row.getUTF8String(i).getBytes
        // defensive copy only when the value becomes a bound: getBytes can
        // expose a view over the row's reusable buffer
        if (minB(i) == null || ColumnStats.cmpBytes(b, minB(i)) < 0)
          minB(i) = java.util.Arrays.copyOf(b, b.length)
        if (maxB(i) == null || ColumnStats.cmpBytes(b, maxB(i)) > 0)
          maxB(i) = java.util.Arrays.copyOf(b, b.length)
      }
    }
    bloomIdx.foreach { i =>
      if (!row.isNullAt(i)) // blooms track non-null values only: an equality
        // probe never matches NULL, so pruning on their absence stays sound
        bloomB(i).add(schema.fields(i).dataType match {
          case LongType | TimestampType => FileBloom.hashLong(row.getLong(i))
          case IntegerType | DateType => FileBloom.hashLong(row.getInt(i).toLong)
          case StringType => FileBloom.hashBytes(row.getUTF8String(i).getBytes)
          case dt => throw new IllegalStateException(s"unreachable: $dt")
        })
    }
    ndvIdx.foreach { i =>
      if (!row.isNullAt(i)) // NDV counts non-null distinct values (the
        // CBO's distinctCount convention; nulls ride nullCount)
        ndvB(i).add(schema.fields(i).dataType match {
          case LongType | TimestampType => FileBloom.hashLong(row.getLong(i))._1
          case IntegerType | DateType => FileBloom.hashLong(row.getInt(i).toLong)._1
          case DoubleType => FileBloom.hashLong(
            java.lang.Double.doubleToLongBits(row.getDouble(i)))._1
          case StringType => FileBloom.hashBytes(row.getUTF8String(i).getBytes)._1
          case dt => throw new IllegalStateException(s"unreachable: $dt")
        })
    }
  }
  override def commit(): WriterCommitMessage = {
    out.close()
    val strRanges = strIdx.flatMap { i =>
      if (minB(i) == null) None
      else ColumnStats.truncUpper(maxB(i)).map { hi =>
        schema.fields(i).name ->
          ((ColumnStats.b64(ColumnStats.truncLower(minB(i))), ColumnStats.b64(hi)))
      }
    }.toMap
    // bloom/NDV payloads go to a per-file SIDECAR (`blobs-<file>`, one
    // `slot\tbase64` line each); the stats line stores only `col=@slot`
    // refs — a million-file manifest stays list-sized, snapshots share
    // sidecars by reference, and rename/drop stay manifest-only because
    // the column names live in the refs, not the sidecar
    val bloomPairs: Seq[(String, String)] =
      bloomIdx.flatMap(i => bloomB(i).result().map(schema.fields(i).name -> _))
    val ndvPairs: Seq[(String, String)] =
      ndvIdx.map(i => schema.fields(i).name -> FileBloom.ser(ndvB(i).result()))
    val blobsName =
      if (bloomPairs.isEmpty && ndvPairs.isEmpty) ""
      else {
        val bn = s"blobs-$name"
        val lines = (bloomPairs ++ ndvPairs).zipWithIndex
          .map { case ((_, b64), slot) => s"$slot\t$b64" }
        Files.write(staging.resolve(bn), lines.mkString("\n").getBytes(UTF_8))
        bn
      }
    val stats = ColumnStats(
      numIdx.collect {
        case i if mins(i) != null => schema.fields(i).name -> ((mins(i), maxs(i)))
      }.toMap ++ extraRanges, // e.g. the fanout writer's @bucket purity tag
      (numIdx ++ strIdx).collect { case i if partial(i) => schema.fields(i).name }.toSet,
      strRanges,
      ColumnStats.renderBlooms(bloomPairs.zipWithIndex
        .map { case ((c, _), slot) => c -> s"@$slot" }.toMap),
      ColumnStats.renderBlooms(ndvPairs.zipWithIndex
        .map { case ((c, _), i) => c -> s"@${bloomPairs.length + i}" }.toMap),
      blobsName)
    // serialized as [stride, offset0, offset1, ...] — the stride is the
    // ground truth for the line number each offset belongs to
    val pts = lineIndex.result()
    StagedFile(name, rows, stats.render, schema.length,
      if (pts.length > 1) { // a single point (offset 0) can never split
        val all = ManifestDataWriter.IndexStride.toLong +: pts
        val bb = java.nio.ByteBuffer.allocate(all.length * 8)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        all.foreach(bb.putLong)
        java.util.Base64.getEncoder.encodeToString(bb.array())
      } else "", blobsName)
  }
  override def abort(): Unit = {
    out.close()
    Files.deleteIfExists(staging.resolve(name))
    Files.deleteIfExists(staging.resolve(s"blobs-$name"))
  }
  override def close(): Unit = ()
}

// ----------------------------------------------------------------- read ----

private[sources] class ManifestScanBuilder(dir: Path, snapshot: Option[Int],
    only: Option[Set[String]] = None,
    streamOpts: Map[String, String] = Map.empty,
    exclude: Option[Set[String]] = None)
  extends ScanBuilder with SupportsPushDownRequiredColumns
  with org.apache.spark.sql.connector.read.SupportsPushDownFilters
  with org.apache.spark.sql.connector.read.SupportsPushDownAggregates
  with org.apache.spark.sql.connector.read.SupportsPushDownLimit
  with org.apache.spark.sql.connector.read.SupportsPushDownTopN {
  import org.apache.spark.sql.sources._

  private val manifest = snapshot match {
    case Some(v) => Manifest.readSnapshot(dir, v).orElse(
      throw new IllegalArgumentException(s"no snapshot v$v at $dir " +
        s"(have: ${Manifest.snapshotVersions(dir).mkString(", ")})"))
    case None => Manifest.read(dir)
  }
  // feature gate on READS, against the manifest THIS scan resolves: a
  // pinned snapshot may require features the current version no longer
  // declares — data written under newer semantics refuses older readers
  manifest.foreach(m => ManifestTable.assertFeatures(m.props, "scan"))
  private val full = manifest.map(_.schema).getOrElse(StructType(Nil))
  private var required: StructType = full
  // position of the requested `_file` METADATA column in the required
  // schema (None unless selected); the data columns prune around it
  private var fileColAt: Option[Int] = None
  private var posColAt: Option[Int] = None
  private var rowIdColAt: Option[Int] = None
  private var skipping: Array[Filter] = Array.empty
  override def pruneColumns(requiredSchema: StructType): Unit = {
    fileColAt = Some(requiredSchema.fieldNames.indexOf("_file")).filter(_ >= 0)
      .filterNot(_ => full.fieldNames.contains("_file")) // data column wins
    posColAt = Some(requiredSchema.fieldNames.indexOf("_pos")).filter(_ >= 0)
      .filterNot(_ => full.fieldNames.contains("_pos"))
    rowIdColAt = Some(requiredSchema.fieldNames.indexOf("_row_id")).filter(_ >= 0)
      .filterNot(_ => full.fieldNames.contains("_row_id"))
    required = StructType(requiredSchema.fields.filterNot(f =>
      (fileColAt.isDefined && f.name == "_file") ||
        (posColAt.isDefined && f.name == "_pos") ||
        (rowIdColAt.isDefined && f.name == "_row_id")))
  }

  /** Zone-map pushdown: filters are used to SKIP whole files via the
    * per-file min/max ranges the writer recorded; they are all returned as
    * residual (surviving files still contain non-matching rows), the same
    * contract as parquet row-group skipping. */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    sawFilters = sawFilters || filters.nonEmpty
    skipping = filters.filter(ManifestScanBuilder.prunable)
    filters
  }
  override def pushedFilters(): Array[Filter] = skipping

  private var sawFilters = false
  private var aggResult: Option[(StructType, InternalRow)] = None
  private var limitN: Option[Int] = None

  /** LIMIT pushdown: a bare `LIMIT n` plans only enough files (in manifest
    * order) for their LIVE row counts to cover n — `SELECT * FROM t LIMIT
    * 10` over a million-file table plans O(1) files instead of the whole
    * table. PARTIAL push (the default `isPartiallyPushed`): Spark keeps
    * its own Limit node for the exact cut, the source only bounds what it
    * plans. Refused whenever filters reached the scan — residual
    * predicates may eliminate every row of the selected prefix, so a
    * filtered query must keep planning all surviving files. */
  override def pushLimit(limit: Int): Boolean =
    if (sawFilters) false else { limitN = Some(limit); true }

  private var topNSpec: Option[(String, Boolean, Int)] = None // key, desc?, n

  /** TOP-N pushdown (`ORDER BY c [DESC] LIMIT n`): zone maps prove a
    * BOUND on the n-th ranked value — sort files by their best-possible
    * key (min for DESC, max for ASC) and accumulate LIVE rows of files
    * with COMPLETE stats until they cover n; every accumulated row ranks
    * at least as well as the last file's worst bound B, so ≥ n rows beat
    * B and any file provably ENTIRELY beyond B (max < B for DESC,
    * min > B for ASC — and provably free of nulls/NaN, which rank
    * outside the ranges) cannot contribute and is not planned.
    * `ORDER BY ts DESC LIMIT 100` over a time-clustered table plans only
    * the newest files. PARTIAL push: Spark keeps its own TakeOrdered for
    * the exact sort + cut; the source only bounds what it plans. Refused
    * under filters (residuals could eliminate the counted rows) — the
    * same fence as LIMIT. Pruning uses the LEADING key only, sound for
    * any tie-breakers: a row strictly beyond B on the leading key loses
    * to ≥ n rows regardless of later keys. */
  override def pushTopN(orders: Array[
      org.apache.spark.sql.connector.expressions.SortOrder], limit: Int): Boolean = {
    import org.apache.spark.sql.connector.expressions.{NamedReference, SortDirection}
    if (sawFilters || orders.isEmpty) return false
    orders.head.expression() match {
      case nr: NamedReference if nr.fieldNames().length == 1 &&
          full.fields.exists(_.name.equalsIgnoreCase(nr.fieldNames()(0))) =>
        val f = full.fields.find(_.name.equalsIgnoreCase(nr.fieldNames()(0))).get
        topNSpec = Some((f.name,
          orders.head.direction() == SortDirection.DESCENDING, limit))
        true
      case _ => false
    }
  }
  override def isPartiallyPushed(): Boolean = true

  /** The files a pushed top-n cannot exclude (see [[pushTopN]]). */
  private def topNPrune(survived: Seq[ManifestFile],
      spec: (String, Boolean, Int)): Seq[ManifestFile] = {
    val (c, desc, n) = spec
    // accumulation candidates: complete stats (no nulls/NaN hiding
    // outside the ranges), live rows to count
    val known = survived.filter(e => e.liveRows > 0 &&
      e.stats.ranges.contains(c) && !e.stats.incomplete(c))
    val sorted =
      if (desc) known.sortBy(_.stats.ranges(c)._1)(Ordering[BigDecimal].reverse)
      else known.sortBy(_.stats.ranges(c)._2)
    var acc = 0L
    var bound: Option[BigDecimal] = None
    val it = sorted.iterator
    while (acc < n && it.hasNext) {
      val e = it.next()
      acc += e.liveRows
      bound = Some(if (desc) e.stats.ranges(c)._1 else e.stats.ranges(c)._2)
    }
    if (acc < n) return survived // not enough provable rows — no pruning
    val b = bound.get
    survived.filter { e =>
      // prune only files that provably cannot reach the bound: complete
      // stats (a null/NaN row would rank outside the ranges) and a range
      // strictly beyond B
      !(e.stats.ranges.contains(c) && !e.stats.incomplete(c) &&
        (if (desc) e.stats.ranges(c)._2 < b else e.stats.ranges(c)._1 > b))
    }
  }

  private def liveEntries: Seq[ManifestFile] =
    manifest.map(_.entries).getOrElse(Seq.empty)
      .filter(e => only.forall(_.contains(e.name)))
      .filter(e => exclude.forall(x => !x.contains(e.name)))

  /** COMPLETE pushdown for metadata-answerable aggregates over the whole
    * table: `COUNT(*)` is the exact sum of live row counts; `COUNT(col)`
    * joins when NO live file can hold a NULL in `col` (complete range,
    * never flagged incomplete); `MIN/MAX(col)` answer from the merged
    * zone maps when EVERY live file carries a range, none has a deletion
    * vector (a vectored row could BE the extremum), and — for doubles —
    * none is incomplete (a NaN outranks every range bound). `SELECT
    * count(*)` over 100 TB must read zero data files, the parquet
    * footer-count idiom at the table level. Filtered queries never get
    * here: every filter is returned residual, so Spark keeps a Filter
    * node and does not attempt aggregate pushdown (sawFilters is the
    * defensive second fence). */
  private def translateAgg(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
    : Option[(StructType, InternalRow)] = {
    import org.apache.spark.sql.connector.expressions.aggregate._
    import org.apache.spark.sql.connector.expressions.NamedReference
    if (sawFilters || agg.groupByExpressions().nonEmpty) return None
    val entries = liveEntries
    def colOf(e: org.apache.spark.sql.connector.expressions.Expression)
      : Option[StructField] = e match {
      case nr: NamedReference if nr.fieldNames().length == 1 =>
        full.fields.find(_.name == nr.fieldNames()(0))
      case _ => None
    }
    def numeric(dt: DataType): Boolean =
      Set[DataType](LongType, IntegerType, DoubleType, DateType,
        TimestampType, org.apache.spark.sql.types.FloatType)(dt) ||
        dt.isInstanceOf[org.apache.spark.sql.types.DecimalType]
    def fractional(dt: DataType): Boolean =
      dt == DoubleType || dt == org.apache.spark.sql.types.FloatType
    def rangeAll(f: StructField): Option[(BigDecimal, BigDecimal)] =
      if (entries.nonEmpty && numeric(f.dataType) &&
        entries.forall(e => e.dv.isEmpty && e.stats.ranges.contains(f.name)) &&
        // a NaN outranks every range bound, so float/double ranges only
        // answer MIN/MAX when no file flagged the column incomplete
        (!fractional(f.dataType) ||
          entries.forall(e => !e.stats.incomplete(f.name))))
        Some((entries.map(_.stats.ranges(f.name)._1).min,
          entries.map(_.stats.ranges(f.name)._2).max))
      else None
    def internal(f: StructField, x: BigDecimal): Any = f.dataType match {
      case LongType | TimestampType => x.toLong
      case IntegerType | DateType => x.toInt
      case org.apache.spark.sql.types.FloatType => x.toFloat
      case d: org.apache.spark.sql.types.DecimalType =>
        org.apache.spark.sql.types.Decimal(x.underlying, d.precision, d.scale)
      case _ => x.toDouble
    }
    val total = entries.map(_.liveRows).sum
    val fields = Seq.newBuilder[StructField]
    val vals = Seq.newBuilder[Any]
    val ok = agg.aggregateExpressions().zipWithIndex.forall {
      case (_: CountStar, i) =>
        fields += StructField(s"agg$i", LongType, nullable = false)
        vals += total; true
      case (c: Count, i) if !c.isDistinct =>
        colOf(c.column()).exists { f =>
          val provablyNoNulls = !f.nullable || (entries.nonEmpty &&
            entries.forall(e => (e.stats.ranges.contains(f.name) ||
              e.stats.strRanges.contains(f.name)) &&
              !e.stats.incomplete(f.name)))
          if (provablyNoNulls) {
            fields += StructField(s"agg$i", LongType, nullable = false)
            vals += total; true
          } else false
        }
      case (mn: Min, i) =>
        colOf(mn.column()).exists(f => rangeAll(f).exists { r =>
          fields += StructField(s"agg$i", f.dataType, nullable = true)
          vals += internal(f, r._1); true
        })
      case (mx: Max, i) =>
        colOf(mx.column()).exists(f => rangeAll(f).exists { r =>
          fields += StructField(s"agg$i", f.dataType, nullable = true)
          vals += internal(f, r._2); true
        })
      case _ => false
    }
    if (ok) Some((StructType(fields.result()), InternalRow.fromSeq(vals.result())))
    else None
  }

  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    translateAgg(agg).isDefined

  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    translateAgg(agg) match {
      case some @ Some(_) => aggResult = some; true
      case None => false
    }

  override def build(): Scan = aggResult match {
    case Some((schema, row)) => new ManifestAggScan(dir, schema, row)
    case None =>
      val entries = liveEntries
      val survived = entries.filter(e =>
        skipping.forall(f => ManifestScanBuilder.mightMatch(f, e.stats)))
      // limit-bounded planning: the shortest file prefix whose live rows
      // cover the pushed limit (liveRows already nets out deletion
      // vectors, so a DV-heavy prefix keeps extending until enough
      // surviving rows are provably planned)
      val topped = topNSpec match {
        case Some(spec) => topNPrune(survived, spec)
        case None => survived
      }
      val kept = limitN match {
        case Some(n) =>
          var acc = 0L
          topped.takeWhile { e =>
            val need = acc < n; acc += e.liveRows; need }
        case None => topped
      }
      // the table's SPJ contract, when it declares one bucket transform on
      // a column the current schema still carries bucketable
      val spj = manifest.flatMap(m => Manifest.bucketSpec(m.props)).filter {
        case (_, c) => full.fields.exists(f =>
          f.name.equalsIgnoreCase(c) && BucketHash.supported(f.dataType))
      }
      new ManifestScan(dir, full, required, kept, entries.length, fileColAt,
        posColAt, spj, streamOpts, rowIdColAt,
        if (rowIdColAt.isDefined)
          Manifest.rowBases(manifest.map(_.props).getOrElse(Map.empty))
        else Map.empty)
  }
}

/** One precomputed row — the metadata-only answer of a completely
  * pushed-down aggregate (see [[ManifestScanBuilder.translateAgg]]). */
private[sources] class ManifestAggScan(dir: Path, schema: StructType,
    row: InternalRow) extends Scan with Batch {
  override def readSchema(): StructType = schema
  override def toBatch: Batch = this
  override def description(): String =
    s"GraftManifestAggScan dir=$dir (metadata-only)"
  override def planInputPartitions(): Array[InputPartition] =
    Array(ManifestAggResult(schema, row.toSeq(schema).toArray))
  override def createReaderFactory(): PartitionReaderFactory =
    ManifestAggReaderFactory
}

private[sources] case class ManifestAggResult(schema: StructType,
    values: Array[Any]) extends InputPartition

private[sources] object ManifestAggReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val ManifestAggResult(_, values) = partition.asInstanceOf[ManifestAggResult]
    new PartitionReader[InternalRow] {
      private var emitted = false
      override def next(): Boolean = { val r = !emitted; emitted = true; r }
      override def get(): InternalRow = InternalRow.fromSeq(values.toIndexedSeq)
      override def close(): Unit = ()
    }
  }
}

private[sources] object ManifestScanBuilder {
  import org.apache.spark.sql.sources._

  /** Filter values comparable against the numeric zone maps. Date and
    * timestamp values convert to the SAME internal encoding the writer
    * recorded (epoch days / epoch micros; both the java.sql and java.time
    * flavors, so pruning works whichever `datetime.java8API` setting the
    * session runs). NaN never converts — a NaN bound can neither prune nor
    * prove. */
  private def num(v: Any): Option[BigDecimal] = v match {
    case n: Long => Some(BigDecimal(n))
    case n: Int => Some(BigDecimal(n))
    case n: Double => if (java.lang.Double.isFinite(n)) Some(BigDecimal(n)) else None
    case n: Float => if (java.lang.Float.isFinite(n)) Some(BigDecimal(n.toDouble)) else None
    case n: Short => Some(BigDecimal(n.toInt))
    case n: Byte => Some(BigDecimal(n.toInt))
    case n: java.math.BigDecimal => Some(BigDecimal(n)) // parsed decimal literals
    case n: BigDecimal => Some(n)
    case d: java.sql.Date => Some(BigDecimal(d.toLocalDate.toEpochDay))
    case d: java.time.LocalDate => Some(BigDecimal(d.toEpochDay))
    case t: java.sql.Timestamp => // Catalyst fromJavaTimestamp: millis*1000 + sub-milli micros
      Some(BigDecimal(t.getTime * 1000L + (t.getNanos / 1000L) % 1000L))
    case t: java.time.Instant =>
      Some(BigDecimal(t.getEpochSecond * 1000000L + t.getNano / 1000L))
    case _ => None
  }

  private def comparable(v: Any): Boolean =
    v.isInstanceOf[String] || num(v).isDefined

  /** compare(filterValue, bound) for (lo, hi), or None when the file has
    * no usable stats for the column — strings compare in raw UTF-8 byte
    * order against the (possibly widened-truncated) string range, every
    * other comparable value in BigDecimal against the numeric range. With
    * `complete = true` an incomplete range (NULL/NaN cells exist) also
    * yields None: those rows satisfy no comparison predicate, so the range
    * may prune but never prove. */
  private def cmps(st: ColumnStats, c: String, v: Any,
      complete: Boolean): Option[(Int, Int)] =
    if (complete && st.incomplete(c)) None
    else v match {
      case s: String =>
        st.strRanges.get(c).map { case (lo, hi) =>
          val b = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          (ColumnStats.cmpBytes(b, ColumnStats.unb64(lo)),
            ColumnStats.cmpBytes(b, ColumnStats.unb64(hi)))
        }
      case other =>
        for { x <- num(other); lohi <- st.ranges.get(c) }
          yield (x.compare(lohi._1), x.compare(lohi._2))
    }

  private[sources] def prunable(f: Filter): Boolean = f match {
    case EqualTo(_, v) => comparable(v)
    case GreaterThan(_, v) => comparable(v)
    case GreaterThanOrEqual(_, v) => comparable(v)
    case LessThan(_, v) => comparable(v)
    case LessThanOrEqual(_, v) => comparable(v)
    case In(_, vs) => vs.nonEmpty && vs.forall(comparable)
    case StringStartsWith(_, p) => p != null
    case IsNull(_) => true
    case And(l, r) => prunable(l) && prunable(r)
    case _ => false
  }

  /** The smallest byte string sorting AFTER every string with prefix `p`
    * (increment the last non-0xff byte, truncate after it); None when no
    * finite successor exists. `LIKE 'p%'` describes the region
    * [p, nextPrefix(p)). */
  private def nextPrefix(p: Array[Byte]): Option[Array[Byte]] = {
    var i = p.length - 1
    while (i >= 0 && (p(i) & 0xff) == 0xff) i -= 1
    if (i < 0) None
    else {
      val t = java.util.Arrays.copyOf(p, i + 1)
      t(i) = ((t(i) & 0xff) + 1).toByte
      Some(t)
    }
  }

  /** A StartsWith probe against a file's string range: may the range hold
    * a string with prefix `p`? Overlap of [p, nextPrefix(p)) with
    * [lo, hi] — sound against WIDENED bounds (they only move outward, and
    * a larger range only keeps more files). */
  private def startsWithMayOverlap(st: ColumnStats, c: String, p: String): Boolean =
    st.strRanges.get(c) match {
      case None => true // no stats never prunes
      case Some((lo64, hi64)) =>
        val pb = p.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val lo = ColumnStats.unb64(lo64)
        val hi = ColumnStats.unb64(hi64)
        ColumnStats.cmpBytes(hi, pb) >= 0 &&
          nextPrefix(pb).forall(nb => ColumnStats.cmpBytes(lo, nb) < 0)
    }

  /** Dual of [[mightMatch]] for metadata-only DELETE: true iff the file's
    * [min, max] PROVES every row matches. Conservative the other way — a
    * column without stats (or with an incomplete range) can never prove a
    * full match. `AlwaysTrue` (an unconditional DELETE) trivially matches
    * all. Sound against WIDENED string bounds too: every proof below has
    * the form "bound strictly inside the predicate region", and widening
    * only moves bounds OUTWARD. */
  private[sources] def mustMatchAll(f: Filter, st: ColumnStats): Boolean = {
    def c(col: String, v: Any) = cmps(st, col, v, complete = true)
    f match {
      case AlwaysTrue() => true
      case EqualTo(col, v) => // v == lo == hi → every row equals v
        c(col, v).exists { case (cl, ch) => cl == 0 && ch == 0 }
      case GreaterThan(col, v) => // lo > v
        c(col, v).exists { case (cl, _) => cl < 0 }
      case GreaterThanOrEqual(col, v) => // lo >= v
        c(col, v).exists { case (cl, _) => cl <= 0 }
      case LessThan(col, v) => // hi < v
        c(col, v).exists { case (_, ch) => ch > 0 }
      case LessThanOrEqual(col, v) => // hi <= v
        c(col, v).exists { case (_, ch) => ch >= 0 }
      case In(col, vs) => // some v == lo == hi
        vs.exists(v => c(col, v).exists { case (cl, ch) => cl == 0 && ch == 0 })
      case StringStartsWith(colName, p) if p != null =>
        // every row matches iff the whole range sits inside [p, next(p));
        // sound under widening: both proofs are "bound strictly inside the
        // region", and widening only moves bounds OUTWARD (NULL rows block
        // via the incomplete flag — they match no StartsWith)
        !st.incomplete(colName) && st.strRanges.get(colName).exists {
          case (lo64, hi64) =>
            val pb = p.getBytes(java.nio.charset.StandardCharsets.UTF_8)
            ColumnStats.cmpBytes(ColumnStats.unb64(lo64), pb) >= 0 &&
              nextPrefix(pb).exists(nb =>
                ColumnStats.cmpBytes(ColumnStats.unb64(hi64), nb) < 0)
        }
      case And(l, r) => mustMatchAll(l, st) && mustMatchAll(r, st)
      case Or(l, r) => mustMatchAll(l, st) || mustMatchAll(r, st)
      case _ => false
    }
  }

  /** The pushed v1 filter as a row-level [[org.apache.spark.sql.Column]]
    * predicate — what lets copy-on-write DELETE re-evaluate the delete
    * condition inside the rewrite job. Built purely from the public
    * `col`/`lit` constructors; `None` marks a filter shape this translator
    * does not cover, which the caller must REFUSE (an approximated delete
    * predicate silently drops the wrong rows). */
  private[sources] def filterColumn(f: Filter): Option[org.apache.spark.sql.Column] = {
    import org.apache.spark.sql.functions.{col, lit, not}
    f match {
      case AlwaysTrue() => Some(lit(true))
      case AlwaysFalse() => Some(lit(false))
      case EqualTo(a, v) => Some(col(a) === lit(v))
      case EqualNullSafe(a, v) => Some(col(a) <=> lit(v))
      case GreaterThan(a, v) => Some(col(a) > lit(v))
      case GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
      case LessThan(a, v) => Some(col(a) < lit(v))
      case LessThanOrEqual(a, v) => Some(col(a) <= lit(v))
      case In(a, vs) => Some(col(a).isin(vs.toIndexedSeq: _*))
      case IsNull(a) => Some(col(a).isNull)
      case IsNotNull(a) => Some(col(a).isNotNull)
      case StringStartsWith(a, v) => Some(col(a).startsWith(v))
      case StringEndsWith(a, v) => Some(col(a).endsWith(v))
      case StringContains(a, v) => Some(col(a).contains(v))
      case Not(c) => filterColumn(c).map(not)
      case And(l, r) => for (lc <- filterColumn(l); rc <- filterColumn(r)) yield lc && rc
      case Or(l, r) => for (lc <- filterColumn(l); rc <- filterColumn(r)) yield lc || rc
      case _ => None
    }
  }

  /** A bloom'd column's verdict on an equality probe: true (may be
    * present) unless the file carries a bloom for the column AND all K
    * probe bits are clear. A bloom never exists without the writer having
    * hashed every non-null cell, and equality never matches NULL, so
    * "definitely absent" is a sound prune. */
  private def bloomMaybe(st: ColumnStats, col: String, v: Any): Boolean =
    st.blooms.get(col) match {
      case None => true
      case Some(b) => FileBloom.hashValue(v) match {
        case None => true
        case Some(h) => FileBloom.maybe(FileBloom.deser(b), h)
      }
    }

  /** The probed column's bloom, deserialized ONCE for a whole filter —
    * an `In` probe of N values over a 16 KB bloom must not base64-decode
    * it N times. */
  private def bloomBits(st: ColumnStats, col: String): Option[Array[Long]] =
    st.blooms.get(col).map(FileBloom.deser)

  /** Conservative: true unless the file's [min, max] PROVES no row can
    * match — or, for equality probes, the column's bloom proves the value
    * absent. A column without stats never prunes. */
  private[sources] def mightMatch(f: Filter, st: ColumnStats): Boolean = {
    def c(col: String, v: Any) = cmps(st, col, v, complete = false)
    f match {
      case EqualTo(col, v) => // prune unless lo <= v <= hi, and the bloom agrees
        c(col, v).forall { case (cl, ch) => cl >= 0 && ch <= 0 } &&
          bloomMaybe(st, col, v)
      case GreaterThan(col, v) => // prune unless hi > v
        c(col, v).forall { case (_, ch) => ch < 0 }
      case GreaterThanOrEqual(col, v) => // prune unless hi >= v
        c(col, v).forall { case (_, ch) => ch <= 0 }
      case LessThan(col, v) => // prune unless lo < v
        c(col, v).forall { case (cl, _) => cl > 0 }
      case LessThanOrEqual(col, v) => // prune unless lo <= v
        c(col, v).forall { case (cl, _) => cl >= 0 }
      case In(col, vs) => // prune unless some value can sit inside the range
        lazy val bits = bloomBits(st, col) // decoded once, and only if some
        vs.exists(v => c(col, v).forall { case (cl, ch) => cl >= 0 && ch <= 0 } &&
          (bits match { // value survives the range check
            case None => true
            case Some(b) => FileBloom.hashValue(v)
              .forall(h => FileBloom.maybe(b, h))
          }))
      case StringStartsWith(colName, p) if p != null =>
        // prune unless [p, next(p)) overlaps the file's string range —
        // the LIKE 'p%' shape over a prefix-clustered corpus
        startsWithMayOverlap(st, colName, p)
      case IsNull(colName) =>
        // a column with a COMPLETE range (flagged incomplete on any
        // NULL/NaN cell) provably holds no NULL in this file. A column
        // with NO range entry never prunes: it may be NULL-filled schema
        // evolution, an all-NULL file, or an untracked type.
        !((st.ranges.contains(colName) || st.strRanges.contains(colName)) &&
          !st.incomplete(colName))
      case And(l, r) => mightMatch(l, st) && mightMatch(r, st)
      case Or(l, r) => mightMatch(l, st) || mightMatch(r, st)
      case _ => true
    }
  }
}

/** `file` is the RESOLVED absolute data path (driver-side resolution
  * through the shallow-clone chain — executors never walk manifests);
  * `entry` is the manifest entry name (the `_file` metadata value);
  * `fileColAt`/`posColAt` say where to splice the metadata columns into
  * the output row when selected; `dvPath` is the resolved deletion-vector
  * sidecar whose ordinals the reader skips (null = none). */
private[sources] case class ManifestFilePartition(file: String, dir: String,
    wanted: StructType, phys: Array[Int],
    entry: String = "", fileColAt: Option[Int] = None,
    posColAt: Option[Int] = None, dvPath: String = null,
    startByte: Long = 0L, startLine: Long = 0L, numLines: Long = -1L,
    // streaming change feed ([[ManifestCdfStream]]): splice a CONSTANT
    // `_change_type` (when not physical in the file) and `_commit_version`
    // at these output positions
    chgTypeAt: Option[Int] = None, chgTypeConst: String = null,
    commitVerAt: Option[Int] = None, commitVer: Int = 0,
    // row tracking: splice `_row_id` = rowBase + physical ordinal at this
    // output position (rowBase < 0 → NULL: entry never sealed)
    rowIdColAt: Option[Int] = None, rowBase: Long = -1L)
  extends InputPartition

/** A file partition of a bucket-pure file, keyed by its bucket id — what
  * lets Spark group a [[ManifestScan]]'s partitions under
  * `KeyGroupedPartitioning` for storage-partitioned joins. */
private[sources] case class ManifestBucketedPartition(inner: ManifestFilePartition,
    bucket: Int)
  extends InputPartition with org.apache.spark.sql.connector.read.HasPartitionKey {
  override def partitionKey(): InternalRow =
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](bucket))
}

/** Offset = committed snapshot version (monotone: every manifest write
  * archives `_manifest.v{n+1}`). */
private[sources] case class SnapOffset(v: Int)
  extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String = v.toString
}

/** The manifest table as a streaming SOURCE: `latestOffset` is the newest
  * archived version, `planInputPartitions(start, end)` diffs the two
  * snapshots' file sets and plans one partition per ADDED file. Exactly
  *-once: versions are checkpointed offsets, and a restarted query replans
  * the same window to the same file set (manifests are immutable once
  * archived). Append-only windows replay exact row-level changes; a
  * copy-on-write rewrite inside a window surfaces the rewritten files'
  * surviving rows (documented CDF approximation). A `VACUUM` that expired
  * a checkpointed version fails the query loudly instead of silently
  * replaying the whole table. */
private[sources] class ManifestChangeStream(dir: Path, full: StructType,
    wanted: StructType, streamOpts: Map[String, String] = Map.empty)
  extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream
  with org.apache.spark.sql.connector.read.streaming.SupportsAdmissionControl
  with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {
  import org.apache.spark.sql.connector.read.streaming.{Offset => SOffset, ReadLimit}

  // Trigger.AvailableNow: pin the drain target ONCE — without this Spark
  // wraps the source and the wrapper bypasses admission control, so
  // maxFilesPerTrigger would silently deliver one giant batch
  private var availableNowCap: Option[Int] = None
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = Some(Manifest.snapshotVersions(dir).lastOption.getOrElse(0))
  private def newestVisible: Int = {
    val n = Manifest.snapshotVersions(dir).lastOption.getOrElse(0)
    availableNowCap.map(math.min(n, _)).getOrElse(n)
  }

  private def manifestAt(v: Int): Manifest =
    if (v == 0) Manifest(full, Seq.empty)
    else Manifest.readSnapshot(dir, v).getOrElse(
      throw new IllegalStateException(
        s"streaming read: snapshot $v expired (VACUUM RETAIN) at $dir — " +
          "reset the checkpoint to reprocess"))

  // `startingVersion` = the FIRST version whose changes are delivered
  // (the Delta option): offsets are exclusive lower bounds, so v-1;
  // `startingTimestamp` resolves to the first version committed AFTER it
  override def initialOffset(): SOffset =
    SnapOffset(streamOpts.get("startingVersion")
      .map(v => math.max(0, v.toInt - 1))
      .orElse(streamOpts.get("startingTimestamp").map(ts =>
        Manifest.versionAtOrBefore(dir,
          java.sql.Timestamp.valueOf(ts).getTime).getOrElse(0)))
      .getOrElse(0))
  override def deserializeOffset(json: String): SOffset = SnapOffset(json.toInt)
  override def latestOffset(): SOffset = SnapOffset(newestVisible)

  /** ADMISSION CONTROL (`maxFilesPerTrigger` / `maxRowsPerTrigger`): a
    * backfill over a large table must not plan its entire history as ONE
    * micro-batch. Versions admit WHOLE (a commit is the atomic unit — a
    * split batch would publish half a transaction downstream), newest
    * first budget-checked: walk the pending versions accumulating each
    * one's ADDED files/rows (manifest metadata, zero data I/O) and stop
    * past the budget — always admitting at least one version, so a
    * single oversized commit still progresses. */
  override def getDefaultReadLimit: ReadLimit =
    streamOpts.get("maxFilesPerTrigger").map(n => ReadLimit.maxFiles(n.toInt))
      .orElse(streamOpts.get("maxRowsPerTrigger")
        .map(n => ReadLimit.maxRows(n.toLong)))
      .getOrElse(ReadLimit.allAvailable())

  override def latestOffset(start: SOffset, limit: ReadLimit): SOffset = {
    import org.apache.spark.sql.connector.read.streaming.{ReadAllAvailable, ReadMaxFiles, ReadMaxRows}
    val s = start.asInstanceOf[SnapOffset].v
    val newest = newestVisible
    limit match {
      case _: ReadAllAvailable => SnapOffset(newest)
      case l =>
        val budget: (Int, Long) => Boolean = l match {
          case f: ReadMaxFiles => (files, _) => files <= f.maxFiles()
          case r: ReadMaxRows => (_, rows) => rows <= r.maxRows()
          case _ => (_, _) => true
        }
        val versions = Manifest.snapshotVersions(dir)
          .filter(v => v > s && v <= newest)
        var prev = manifestAt(s).entries.map(_.name).toSet
        var files = 0; var rows = 0L; var admitted = s; var over = false
        versions.foreach { v =>
          if (!over) {
            val m = manifestAt(v)
            val added = m.entries.filterNot(e => prev(e.name))
            files += added.length; rows += added.map(_.liveRows).sum
            if (admitted == s || budget(files, rows)) admitted = v
            else over = true
            prev = m.entries.map(_.name).toSet
          }
        }
        SnapOffset(admitted)
    }
  }

  override def planInputPartitions(start: SOffset, end: SOffset): Array[InputPartition] = {
    val s = start.asInstanceOf[SnapOffset].v
    val e = end.asInstanceOf[SnapOffset].v
    if (e <= s) return Array.empty
    val chain = Manifest.resolveChain(dir)
    // walk the window COMMIT BY COMMIT: a layout commit (OPTIMIZE / REORG
    // — fresh dataChange stamp) adds files that carry only rows already
    // delivered, so it plans NOTHING (the single-window diff this
    // replaced would have re-delivered every compacted row as new);
    // an append mid-window still delivers even if a later layout commit
    // compacted its file away (archived data files survive until VACUUM).
    // Each added file's layout resolves against ITS commit's schema by
    // name — a column added/dropped later must not shift cell positions.
    def stampOf(v: Int): Option[String] =
      manifestAt(v).props.get(Manifest.DataChangeStampProp)
    // row-level DML commits (files rewritten, dropped, or newly
    // vectored): re-delivering the rewrite's outputs would duplicate
    // every carried row downstream, and deletes are silently invisible —
    // so by default the stream REFUSES loudly (the Delta source's rule),
    // with the two documented opt-outs: `skipChangeCommits` skips such
    // commits whole, `ignoreChanges` delivers the added files
    // (re-delivered carried rows become the consumer's contract).
    val skipChanges = streamOpts.get("skipChangeCommits").contains("true")
    val ignoreChanges = streamOpts.get("ignoreChanges").contains("true")
    val versions = Manifest.snapshotVersions(dir).filter(v => v > s && v <= e)
    (s +: versions).zip(versions).flatMap { case (a, b) =>
      if (stampOf(b) != (if (a == 0) None else stampOf(a)))
        Seq.empty[InputPartition] // layout commit: carried rows only
      else {
        val ma = manifestAt(a)
        val mb = manifestAt(b)
        val prevKey = ma.entries.map(e2 =>
          e2.name -> ((e2.rows, e2.dv.map(_._1)))).toMap
        val currKey = mb.entries.map(e2 =>
          e2.name -> ((e2.rows, e2.dv.map(_._1)))).toMap
        val changed = prevKey.keySet.exists(n => !currKey.get(n).contains(prevKey(n)))
        if (changed && skipChanges) Seq.empty[InputPartition]
        else if (changed && !ignoreChanges)
          throw new UnsupportedOperationException(
            s"streaming read: commit $b rewrote or removed files (row-level " +
              "DML) — a plain data stream would duplicate carried rows and " +
              "miss deletes. Set option skipChangeCommits=true to skip such " +
              "commits, ignoreChanges=true to deliver the rewritten files " +
              "anyway, or stream the change feed (changeFeed=true) for " +
              "exact row-level changes")
        else mb.entries.filterNot(f => prevKey.contains(f.name))
          .map(f => ManifestFilePartition(
            Manifest.resolveData(chain, f.name).toString,
            dir.toString, wanted,
            GraftManifestSink.wantedPhys(mb.schema, wanted, f),
            dvPath = f.dv.map(d =>
              Manifest.resolveData(chain, d._1).toString).orNull))
      }
    }.toArray[InputPartition]
  }

  override def createReaderFactory(): PartitionReaderFactory = ManifestReaderFactory
  override def commit(end: SOffset): Unit = ()
  override def stop(): Unit = ()
}

/** STREAMING CHANGE FEED (Delta's `readChangeFeed` stream): `readStream
  * .format(…).option("changeFeed", "true")` delivers every commit's change
  * rows — data columns + `_change_type` + `_commit_version` — one commit
  * at a time, exactly-once (versions are the checkpointed offsets;
  * manifests and CDC dirs are immutable once archived, so a replanned
  * window reproduces the same rows).
  *
  * Per commit in the window:
  *  - a commit with RECORDED CDC ([[ManifestTable.writeCdc]] — its cdcDir
  *    prop changed) plans the CDC sub-table's files directly: `_change_type`
  *    is a physical column there, attribution is exact;
  *  - a pure append plans its added files with a constant `insert` tag —
  *    no CDC is ever written for appends (the Delta rule: inserts derive
  *    from the added files, costing zero extra write);
  *  - a rewrite commit WITHOUT recorded CDC refuses loudly: a streaming
  *    consumer must never silently receive surviving-row approximations —
  *    enable `TBLPROPERTIES ('changeFeed'='true')` before row-level DML on
  *    a streamed table (the batch `changes` read stays available with its
  *    documented diff semantics).
  *
  * Planning is per-commit manifest metadata; each task reads only its own
  * commit's files — at 100 TB a micro-batch costs the change volume, never
  * a table scan. */
private[sources] class ManifestCdfStream(dir: Path, output: StructType,
    streamOpts: Map[String, String] = Map.empty)
  extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream
  with org.apache.spark.sql.connector.read.streaming.SupportsAdmissionControl
  with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {
  import org.apache.spark.sql.connector.read.streaming.{Offset => SOffset, ReadLimit}

  // see ManifestChangeStream: the AvailableNow wrapper bypasses admission
  private var availableNowCap: Option[Int] = None
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = Some(Manifest.snapshotVersions(dir).lastOption.getOrElse(0))
  private def newestVisible: Int = {
    val n = Manifest.snapshotVersions(dir).lastOption.getOrElse(0)
    availableNowCap.map(math.min(n, _)).getOrElse(n)
  }

  // output = data columns + _change_type + _commit_version
  private val dataCols = StructType(output.fields.dropRight(2))

  private def manifestAt(v: Int): Manifest =
    Manifest.readSnapshot(dir, v).getOrElse(
      throw new IllegalStateException(
        s"streaming change feed: snapshot $v expired (VACUUM RETAIN) at $dir — " +
          "reset the checkpoint to reprocess"))

  // `startingVersion` = the FIRST version whose changes are delivered;
  // `startingTimestamp` resolves to the first version committed AFTER it
  override def initialOffset(): SOffset =
    SnapOffset(streamOpts.get("startingVersion")
      .map(v => math.max(0, v.toInt - 1))
      .orElse(streamOpts.get("startingTimestamp").map(ts =>
        Manifest.versionAtOrBefore(dir,
          java.sql.Timestamp.valueOf(ts).getTime).getOrElse(0)))
      .getOrElse(0))
  override def deserializeOffset(json: String): SOffset = SnapOffset(json.toInt)
  override def latestOffset(): SOffset = SnapOffset(newestVisible)

  /** ADMISSION CONTROL (`maxFilesPerTrigger`): commits admit WHOLE (a
    * transaction never splits across micro-batches), counted by each
    * commit's ADDED data files — manifest metadata only. At least one
    * commit always admits, so an oversized commit still progresses. */
  override def getDefaultReadLimit: ReadLimit =
    streamOpts.get("maxFilesPerTrigger").map(n => ReadLimit.maxFiles(n.toInt))
      .getOrElse(ReadLimit.allAvailable())

  override def latestOffset(start: SOffset, limit: ReadLimit): SOffset = {
    import org.apache.spark.sql.connector.read.streaming.ReadMaxFiles
    val s = start.asInstanceOf[SnapOffset].v
    val newest = newestVisible
    limit match {
      case f: ReadMaxFiles =>
        val versions = Manifest.snapshotVersions(dir)
          .filter(v => v > s && v <= newest)
        var prev = if (s == 0) Set.empty[String]
          else manifestAt(s).entries.map(_.name).toSet
        var files = 0; var admitted = s; var over = false
        versions.foreach { v =>
          if (!over) {
            val m = manifestAt(v)
            files += m.entries.count(e => !prev(e.name))
            if (admitted == s || files <= f.maxFiles()) admitted = v
            else over = true
            prev = m.entries.map(_.name).toSet
          }
        }
        SnapOffset(admitted)
      case _ => SnapOffset(newest)
    }
  }

  override def planInputPartitions(start: SOffset, end: SOffset): Array[InputPartition] = {
    val s = start.asInstanceOf[SnapOffset].v
    val e = end.asInstanceOf[SnapOffset].v
    if (e <= s) return Array.empty
    val trail = Manifest.snapshotVersions(dir).filter(v => v > s && v <= e)
    // strict per-version prop read: `None` must mean "no prop", never
    // "snapshot vacuumed" — if the predecessor snapshot expired, an
    // INHERITED cdcDir would otherwise be misattributed to commit b and
    // the stream would silently replay an OLDER commit's recorded rows
    def propOf(v: Int, p: String): Option[String] =
      if (v == 0) None else manifestAt(v).props.get(p)
    def cdcOf(v: Int): Option[String] = propOf(v, Manifest.CdcDirProp)
    def stampOf(v: Int): Option[String] =
      propOf(v, Manifest.DataChangeStampProp)
    val chain = Manifest.resolveChain(dir)
    (s +: trail).zip(trail).flatMap { case (a, b) =>
      val bCdc = cdcOf(b)
      // a layout commit (OPTIMIZE / REORG PURGE — fresh dataChange stamp)
      // rearranged bytes without changing content: the feed emits nothing
      // for it, matching Delta's dataChange=false CDF rule (falling into
      // the diff branch below would wedge the stream on a rewrite the
      // user can do nothing about)
      if (stampOf(b) != stampOf(a)) Seq.empty[InputPartition]
      else if (bCdc.isDefined && bCdc != cdcOf(a)) {
        val sub = dir.resolve(bCdc.get)
        val cm = Manifest.read(sub).getOrElse(throw new IllegalStateException(
          s"streaming change feed: commit $b's CDC dir ${bCdc.get} was " +
            "vacuumed — reset the checkpoint to reprocess"))
        val wanted = StructType(dataCols.fields :+
          StructField("_change_type", StringType, nullable = false))
        cm.entries.filter(_.rows > 0).map(f =>
          ManifestFilePartition(sub.resolve(f.name).toString, dir.toString,
            wanted, GraftManifestSink.wantedPhys(cm.schema, wanted, f),
            commitVerAt = Some(wanted.length), commitVer = b))
      } else {
        val prev = if (a == 0) Map.empty[String, (Long, Option[String])]
          else manifestAt(a).entries.map(e2 =>
            e2.name -> ((e2.rows, e2.dv.map(_._1)))).toMap
        val bm = manifestAt(b)
        val curr = bm.entries.map(e2 =>
          e2.name -> ((e2.rows, e2.dv.map(_._1)))).toMap
        val removed = prev.keySet.filterNot(n => curr.get(n).contains(prev(n)))
        if (removed.nonEmpty)
          throw new UnsupportedOperationException(
            s"streaming change feed: commit $b rewrote or removed files " +
              "without recorded CDC — set TBLPROPERTIES " +
              "('changeFeed'='true') before running row-level DML on a " +
              "streamed table, or use the batch changesFrom/changesTo read")
        bm.entries.filter(f => !prev.contains(f.name) && f.rows > 0).map(f =>
          ManifestFilePartition(Manifest.resolveData(chain, f.name).toString,
            dir.toString, dataCols,
            GraftManifestSink.wantedPhys(bm.schema, dataCols, f),
            chgTypeAt = Some(dataCols.length), chgTypeConst = "insert",
            commitVerAt = Some(dataCols.length + 1), commitVer = b))
      }
    }.toArray[InputPartition]
  }

  override def createReaderFactory(): PartitionReaderFactory = ManifestReaderFactory
  override def commit(end: SOffset): Unit = ()
  override def stop(): Unit = ()
}

/** The table variant the provider serves under `option("changeFeed",
  * "true")`: streaming-read-only, schema = data + change columns. */
private[sources] class ManifestCdfTable(dir: Path, output: StructType)
  extends Table with SupportsRead {
  override def name(): String = s"graft-cdf-$dir"
  override def schema(): StructType = output
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val streamOpts = Seq("maxFilesPerTrigger", "startingVersion",
        "startingTimestamp")
      .flatMap(k => Option(options.get(k)).map(k -> _)).toMap
    new ScanBuilder {
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = output
        override def description(): String = s"GraftCdfScan dir=$dir"
        override def toMicroBatchStream(checkpointLocation: String)
          : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
          new ManifestCdfStream(dir, output, streamOpts)
      }
    }
  }
}

private[sources] class ManifestScan(dir: Path, full: StructType, wanted: StructType,
    entries: Seq[ManifestFile], totalFiles: Int,
    fileColAt: Option[Int] = None, posColAt: Option[Int] = None,
    spjBucket: Option[(Int, String)] = None,
    streamOpts: Map[String, String] = Map.empty,
    rowIdColAt: Option[Int] = None,
    rowBases: Map[String, Long] = Map.empty)
  extends Scan with Batch
  with org.apache.spark.sql.connector.read.SupportsRuntimeFiltering
  with org.apache.spark.sql.connector.read.SupportsReportStatistics
  with org.apache.spark.sql.connector.read.SupportsReportPartitioning {
  import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
  import org.apache.spark.sql.connector.read.Statistics
  import org.apache.spark.sql.sources.Filter
  import java.util.OptionalLong

  // runtime filters (e.g. broadcast-join key sets arriving as In) shrink
  // this BEFORE partition planning — Iceberg-style runtime file pruning
  // against the same zone maps compile-time pushdown uses
  private var current: Seq[ManifestFile] = entries
  /** Observable by tests: how many files the last planning kept. */
  @volatile private[sources] var plannedFiles: Int = entries.length

  override def readSchema(): StructType = {
    // splice the selected metadata columns back at their requested
    // positions — mirrors the reader's withMeta exactly
    val total = wanted.length + fileColAt.size + posColAt.size + rowIdColAt.size
    var j = 0
    val out = (0 until total).map { at =>
      if (fileColAt.contains(at)) StructField("_file", StringType, nullable = false)
      else if (posColAt.contains(at)) StructField("_pos", LongType, nullable = false)
      else if (rowIdColAt.contains(at))
        StructField("_row_id", LongType, nullable = true)
      else { val f = wanted.fields(j); j += 1; f }
    }
    StructType(out)
  }
  override def toBatch: Batch = this
  /** STREAMING READ of the managed table: snapshot versions are the
    * offsets, each micro-batch scans exactly the files ADDED in its
    * version window — a committed batch/streaming/DML write becomes one
    * micro-batch downstream. The closing half of the loop the streaming
    * WRITE opened: manifest tables now both sides of `readStream` →
    * transform → `writeStream`. */
  override def toMicroBatchStream(checkpointLocation: String)
    : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new ManifestChangeStream(dir, full, wanted, streamOpts)
  override def description(): String =
    s"GraftManifestScan dir=$dir cols=${wanted.fieldNames.mkString(",")} " +
      s"files=${entries.length}/$totalFiles"

  /** Manifest-derived statistics (exact row counts, on-disk bytes of the
    * surviving files) — what lets Catalyst size broadcast/join decisions
    * and DPP benefit estimates for this sink the way parquet file sizes
    * do. */
  override def estimateStatistics(): Statistics = new Statistics {
    private val rowsTotal = entries.map(_.liveRows).sum
    private val chain = Manifest.resolveChain(dir)
    private val bytesTotal = entries.map { e =>
      val p = Manifest.resolveData(chain, e.name)
      if (Files.exists(p)) Files.size(p) else e.rows * 32L
    }.sum
    override def numRows(): OptionalLong = OptionalLong.of(rowsTotal)
    override def sizeInBytes(): OptionalLong =
      OptionalLong.of(math.max(bytesTotal, 1L))

    /** COLUMN-LEVEL statistics for Catalyst's CBO, aggregated from the
      * same per-file zone maps file skipping uses — zero extra scans:
      * min/max per stat-bearing column is only claimed when EVERY live
      * file carries a range for it (a stat-less file could hold more
      * extreme values), and nullCount=0 only when no file flagged the
      * column incomplete. Values convert to the column's external type
      * in the writer's own internal encoding (epoch days / micros). */
    override def columnStats(): java.util.Map[org.apache.spark.sql.connector
        .expressions.NamedReference,
        org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = {
      import org.apache.spark.sql.connector.read.colstats.ColumnStatistics
      val out = new java.util.HashMap[NamedReference, ColumnStatistics]()
      wanted.fields.foreach { f =>
        val numeric = f.dataType == LongType || f.dataType == IntegerType ||
          f.dataType == DoubleType || f.dataType == DateType ||
          f.dataType == TimestampType
        val haveAll = entries.nonEmpty &&
          entries.forall(e => e.stats.ranges.contains(f.name))
        val noNulls = entries.nonEmpty &&
          entries.forall(e => !e.stats.incomplete.contains(f.name))
        // NDV is only claimed when EVERY live file carries a KMV sketch
        // (the C94 soundness rule: a sketch-less file could hold any
        // number of unseen values); the union merge never double-counts
        // values shared across files
        val ndv: Option[Long] =
          if (entries.nonEmpty &&
            entries.forall(e => e.stats.ndvRefs.contains(f.name)))
            Some(KmvSketch.estimate(
              entries.map(e => FileBloom.deser(e.stats.ndvSketches(f.name)))))
          else None
        if ((numeric && haveAll) || ndv.isDefined) {
          def cv(x: BigDecimal): Object = f.dataType match {
            case LongType | TimestampType => java.lang.Long.valueOf(x.toLong)
            case IntegerType | DateType => java.lang.Integer.valueOf(x.toInt)
            case _ => java.lang.Double.valueOf(x.toDouble)
          }
          val range =
            if (numeric && haveAll)
              Some((cv(entries.map(_.stats.ranges(f.name)._1).min),
                cv(entries.map(_.stats.ranges(f.name)._2).max)))
            else None
          out.put(Expressions.column(f.name), new ColumnStatistics {
            override def min(): java.util.Optional[Object] =
              range.map(r => java.util.Optional.of(r._1))
                .getOrElse(java.util.Optional.empty())
            override def max(): java.util.Optional[Object] =
              range.map(r => java.util.Optional.of(r._2))
                .getOrElse(java.util.Optional.empty())
            override def nullCount(): OptionalLong =
              if (noNulls) OptionalLong.of(0L) else OptionalLong.empty()
            override def distinctCount(): OptionalLong =
              ndv.map(OptionalLong.of).getOrElse(OptionalLong.empty())
          })
        }
      }
      out
    }
  }

  /** Any stat-bearing column can prune at runtime — the zone maps carry
    * ranges for every long/int/double/date/timestamp/string column the
    * writer saw. Restricted to the PRUNED read schema: Spark resolves
    * these references against the scan's output, so advertising a
    * projected-away column makes PartitionPruning's analysis throw on any
    * column-pruned join scan (runtime filters only ever arrive on join
    * keys the scan outputs anyway). */
  override def filterAttributes(): Array[NamedReference] =
    wanted.fields.collect {
      case f if f.dataType == LongType || f.dataType == IntegerType ||
        f.dataType == DoubleType || f.dataType == DateType ||
        f.dataType == TimestampType || f.dataType == StringType =>
        Expressions.column(f.name)
    }

  /** Runtime pruning: executed-side filters (DPP subquery results, runtime
    * IN-sets from a broadcast join build side) drop whole files whose zone
    * map proves no match — the join-time analog of the compile-time
    * skipping in [[ManifestScanBuilder]]. Conservative: unknown filter
    * shapes and stat-less columns keep the file. */
  override def filter(filters: Array[Filter]): Unit =
    current = current.filter(e =>
      filters.forall(f => ManifestScanBuilder.mightMatch(f, e.stats)))

  /** Per-file bucket ids when EVERY live file is provably bucket-pure
    * (written by the fanout writer under the table's ONE bucket transform)
    * — the evidence for `KeyGroupedPartitioning`. Any file without the
    * purity tag (pre-bucketing commit, schema-mismatched path append)
    * withholds the claim; the scan then reports unknown partitioning and
    * joins simply shuffle as before. Forces the tagged entries' stats —
    * only ever evaluated for bucket-partitioned tables, so the lazy
    * planning contract for ordinary tables is untouched. */
  private lazy val bucketIds: Option[Map[String, Int]] = spjBucket.flatMap {
    case (n, col) =>
      val ids = entries.map(e =>
        e.name -> e.stats.ranges.get(Manifest.bucketStatKey(n, col)))
      if (ids.nonEmpty && ids.forall(_._2.exists(r =>
        r._1 == r._2 && r._1 >= 0 && r._1 < n)))
        Some(ids.map { case (nm, r) => nm -> r.get._1.toInt }.toMap)
      else None
  }

  /** Storage-partitioned-join handshake: a bucket-partitioned table whose
    * live files are all bucket-pure reports its layout as
    * `KeyGroupedPartitioning(bucket(n, col))`. With
    * `spark.sql.sources.v2.bucketing.enabled` Spark groups the input
    * partitions by bucket id and a join of two co-bucketed tables on the
    * bucket column plans with NO exchange on either side — at 100 TB the
    * single most expensive shuffle a warehouse pays, eliminated by layout.
    * The transform resolves to [[GraftBucketFunction]] via the catalog. */
  override def outputPartitioning()
    : org.apache.spark.sql.connector.read.partitioning.Partitioning =
    (spjBucket, bucketIds) match {
      case (Some((n, col)), Some(ids)) =>
        new org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning(
          Array(Expressions.bucket(n, col)), ids.values.toSet.size)
      case _ =>
        new org.apache.spark.sql.connector.read.partitioning.UnknownPartitioning(0)
    }

  /** One partition per COMMITTED file of the selected snapshot — staged and
    * orphaned files are never planned, the read half of the exactly-once
    * contract. */
  override def planInputPartitions(): Array[InputPartition] = {
    plannedFiles = current.length
    val chain = Manifest.resolveChain(dir)
    // a file whose writer recorded a sparse line index and whose row
    // count exceeds the split threshold fans out into byte-range
    // partitions with KNOWN start lines (the `_pos`/deletion-vector
    // ordinal space stays exact) — without this, one misconfigured
    // multi-GB file would serialize an entire scan stage
    val splitRows: Long = org.apache.spark.sql.SparkSession.active.conf
      .getOption("spark.graft.scan.splitRows").map(_.toLong).getOrElse(524288L)
    current.flatMap { e =>
      val resolved = Manifest.resolveData(chain, e.name).toString
      val dvp = e.dv.map(d => Manifest.resolveData(chain, d._1).toString).orNull
      val phys = GraftManifestSink.wantedPhys(full, wanted, e)
      val idx = e.lineIndex
      val base = rowBases.getOrElse(e.name, -1L)
      val raw: Seq[ManifestFilePartition] =
        if (e.rows <= splitRows || idx.length < 3) // [stride, o0, o1] minimum
          Seq(ManifestFilePartition(resolved, dir.toString, wanted, phys,
            e.name, fileColAt, posColAt, dvp,
            rowIdColAt = rowIdColAt, rowBase = base))
        else {
          val stride = idx(0) // recorded at write time, never estimated
          val offsets = idx.drop(1) // offsets(j) = first byte of line j*stride
          val group = math.max(1L, splitRows / stride).toInt
          (0 until offsets.length by group).map { j =>
            val startLine = j.toLong * stride
            val n = math.min(group.toLong * stride, e.rows - startLine)
            ManifestFilePartition(resolved, dir.toString, wanted, phys,
              e.name, fileColAt, posColAt, dvp, offsets(j), startLine, n,
              rowIdColAt = rowIdColAt, rowBase = base)
          }
        }
      // keyed layout: every partition (splits included — same file, same
      // bucket) carries its bucket id so Spark can group by partition key
      bucketIds match {
        case Some(ids) => raw.map(p => ManifestBucketedPartition(p, ids(e.name)))
        case None => raw
      }
    }.toArray[InputPartition]
  }

  override def createReaderFactory(): PartitionReaderFactory = ManifestReaderFactory
}

private[sources] object ManifestReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition match {
      case b: ManifestBucketedPartition => b.inner // key is planning metadata
      case p => p.asInstanceOf[ManifestFilePartition]
    }
    import p.{file, wanted, phys, entry, fileColAt, posColAt, dvPath,
      startByte, startLine, numLines, chgTypeAt, commitVerAt, commitVer,
      rowIdColAt, rowBase}
    // p.file is the pre-resolved absolute path (clone chain)
    new PartitionReader[InternalRow] {
      // byte-range split support: seek straight to this partition's first
      // line (an offset the writer's sparse line index recorded — always
      // a true line start), then read EXACTLY numLines lines (-1 = EOF)
      private val in = new java.io.BufferedInputStream(
        Files.newInputStream(Paths.get(file)))
      locally {
        var toSkip = startByte
        while (toSkip > 0) {
          val s = in.skip(toSkip)
          if (s <= 0) throw new java.io.IOException(
            s"$file: cannot seek to split offset $startByte")
          toSkip -= s
        }
      }
      private val reader = new java.io.BufferedReader(
        new java.io.InputStreamReader(in, UTF_8))
      private var remaining = if (numLines < 0) Long.MaxValue else numLines
      // the `_file` metadata value is CONSTANT per partition — one
      // UTF8String allocated per file, spliced per row only when selected
      private val fileVal =
        org.apache.spark.unsafe.types.UTF8String.fromString(entry)
      // deletion vector: ascending physical ordinals, consumed by a single
      // forward cursor in lockstep with the sequential line scan — O(1)
      // per row, no hashing; a split partition fast-forwards the cursor to
      // its own line range
      private val dvOrds: Array[Long] =
        if (dvPath == null) Array.emptyLongArray
        else DeletionVector.read(Paths.get(dvPath))
      private var dvIdx = {
        val i = java.util.Arrays.binarySearch(dvOrds, startLine)
        if (i < 0) -i - 1 else i
      }
      private var lineNo = startLine - 1
      private var row: InternalRow = _
      private val chgVal =
        org.apache.spark.unsafe.types.UTF8String.fromString(p.chgTypeConst)
      private def withMeta(r: InternalRow): InternalRow =
        if (fileColAt.isEmpty && posColAt.isEmpty && rowIdColAt.isEmpty &&
          chgTypeAt.isEmpty && commitVerAt.isEmpty) r
        else {
          val total = wanted.length + fileColAt.size + posColAt.size +
            rowIdColAt.size + chgTypeAt.size + commitVerAt.size
          val vals = new Array[Any](total)
          var j = 0 // next data ordinal; meta positions index the FULL row
          var at = 0
          while (at < total) {
            if (fileColAt.contains(at)) vals(at) = fileVal
            else if (posColAt.contains(at)) vals(at) = lineNo
            else if (rowIdColAt.contains(at))
              vals(at) = if (rowBase < 0) null else rowBase + lineNo
            else if (chgTypeAt.contains(at)) vals(at) = chgVal
            else if (commitVerAt.contains(at)) vals(at) = commitVer
            else { vals(at) = r.get(j, wanted.fields(j).dataType); j += 1 }
            at += 1
          }
          new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(vals)
        }
      override def next(): Boolean = {
        while (remaining > 0) {
          val line = reader.readLine()
          if (line == null) return false
          remaining -= 1
          lineNo += 1
          if (dvIdx < dvOrds.length && dvOrds(dvIdx) == lineNo) dvIdx += 1
          else {
            row = withMeta(GraftManifestSink.parse(line, phys, wanted))
            return true
          }
        }
        false
      }
      override def get(): InternalRow = row
      override def close(): Unit = reader.close()
    }
  }
}
