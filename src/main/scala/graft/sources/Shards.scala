package graft.sources

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, DataOutputStream, EOFException}
import java.util

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, LongType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Binary shard source/sink — the storage half of the multimodal
  * pipeline (C51 assigns payloads to fixed-size shards; this writes and
  * reads them). The on-disk format is deliberately trivial — a
  * WebDataset-style record stream per shard file:
  *
  *   record := [doc_id: 8-byte big-endian][len: 4-byte big-endian][payload]
  *
  * WRITE is fully distributed: shard ids come from the prefix-sum byte
  * layout, `repartition(shard_id)` gives each reducer exclusive
  * ownership of its shards (no two tasks ever touch one file), and each
  * task streams its records straight to disk — no driver data, no
  * shuffle beyond the one the layout requires.
  *
  * FILESYSTEM CONTRACT: every byte moves through
  * `org.apache.hadoop.fs.FileSystem` resolved from the path's scheme —
  * a bare path is the default FS (local disk here, HDFS on a cluster
  * with core-site.xml), and `hdfs://`/`s3a://`-style URIs address any
  * configured store directly, so executors on a shared-nothing cluster
  * write/read the SAME distributed filesystem rather than scattering
  * shards across machine-local disks. Writer tasks re-resolve the
  * FileSystem from a fresh `Configuration()` (loaded from the
  * executor's Hadoop config on the classpath, the standard deployment
  * contract); the record format, ownership discipline, and pruning
  * logic are scheme-independent.
  *
  * READ is a full DataSource V2 implementation (`TableProvider` →
  * `SupportsRead` table → `ScanBuilder` → `Batch`): one
  * `InputPartition` per shard file (a 1000-executor cluster scans 1000
  * shards in parallel), with COLUMN PRUNING pushed into the reader —
  * `select(doc_id)` skips payload bytes instead of materializing them
  * (`InputStream.skip`, no allocation). This is tier (d) of SURVEY §3:
  * the engine boundary where Spark's planner talks to storage.
  *
  * Usage:
  * {{{
  *   ShardWriter.write(df, dir)            // df: (doc_id long, payload binary)
  *   spark.read.format("graft.sources.ShardDataSource").load(dir)
  * }}}
  */
object ShardWriter {

  /** One Hadoop Configuration per executor JVM: construction parses the
    * default XML resources (milliseconds each), and the reader opens one
    * stream per shard — hundreds of fresh Configurations per scan was a
    * measured ~1 s of pure setup at sf0.1.
    */
  private[sources] lazy val taskConf = new Configuration()

  /** Open a write stream through `fs`, with a `java.io` fast path for
    * the local scheme. The shard format carries fixed-length records
    * (corruption surfaces as EOF/length errors), and Hadoop's
    * LocalFileSystem would shadow every shard with a .crc file and
    * checksum every 512-byte chunk (a measured 5× slowdown on the
    * round-trip face). Stores that need integrity (HDFS, S3) enforce it
    * below this API, so non-local schemes use the plain Hadoop stream.
    *
    * Checksumming is NOT switched off on `fs` itself: `getFileSystem`
    * returns the JVM-wide cached instance, so `setWriteChecksum(false)`
    * there would silently drop the .crc files of every later local
    * write in the JVM, streaming checkpoints included.
    */
  private[sources] def createStream(fs: FileSystem, p: Path): java.io.OutputStream =
    fs match {
      case _: org.apache.hadoop.fs.LocalFileSystem =>
        new java.io.FileOutputStream(p.toUri.getPath)
      case _ => fs.create(p, true)
    }

  /** Read-side twin of [[createStream]]. */
  private[sources] def openStream(fs: FileSystem, p: Path): java.io.InputStream =
    fs match {
      case _: org.apache.hadoop.fs.LocalFileSystem =>
        new java.io.FileInputStream(p.toUri.getPath)
      case _ => fs.open(p)
    }

  /** Pack (doc_id, payload) rows into byte-balanced shard files under
    * `dir`. Layout order is doc_id (deterministic); each shard holds
    * `shardBytes` of payload (the last record may spill past the
    * boundary — shards are record-aligned, the WebDataset convention).
    */
  def write(docs: DataFrame, dir: String, shardBytes: Long = 4096L): Unit = {
    val sized = docs
      .select(col("doc_id"), col("payload"),
        length(col("payload")).cast("long").as("n_bytes"))
    val assigned = graft.operators.Corpus
      .prefixSum(sized, Seq(col("doc_id")), "n_bytes", "start_byte")
      .withColumn("shard_id", call_function("div", col("start_byte"), lit(shardBytes)))
    val dirPath = new Path(dir)
    dirPath.getFileSystem(docs.sparkSession.sparkContext.hadoopConfiguration)
      .mkdirs(dirPath)
    // repartition BY shard_id: each reducer owns complete shards, so
    // file creation is race-free by construction
    assigned
      .repartition(col("shard_id"))
      .sortWithinPartitions(col("shard_id"), col("start_byte"))
      .select(col("shard_id"), col("doc_id"), col("payload"))
      .foreachPartition { (rows: Iterator[org.apache.spark.sql.Row]) =>
        lazy val fs = new Path(dir).getFileSystem(taskConf)
        var out: DataOutputStream = null
        var current = -1L
        try {
          rows.foreach { r =>
            val shard = r.getLong(0)
            if (shard != current) {
              if (out != null) out.close()
              out = new DataOutputStream(new BufferedOutputStream(
                createStream(fs, new Path(dir, f"shard-$shard%05d.bin"))))
              current = shard
            }
            val payload = r.getAs[Array[Byte]](2)
            out.writeLong(r.getLong(1))
            out.writeInt(payload.length)
            out.write(payload)
          }
        } finally if (out != null) out.close()
      }
  }
}

/** DataSource V2 provider for shard directories (see [[ShardWriter]]). */
class ShardDataSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    ShardDataSource.Schema
  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new ShardTable(properties.get("path"))
}

object ShardDataSource {
  val Schema: StructType = new StructType()
    .add("doc_id", LongType, nullable = false)
    .add("payload", BinaryType, nullable = false)
}

private[sources] class ShardTable(path: String) extends Table with SupportsRead {
  require(path != null && path.nonEmpty, "shard source requires a path")
  override def name(): String = s"shards($path)"
  override def schema(): StructType = ShardDataSource.Schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ShardScanBuilder(path)
}

private[sources] class ShardScanBuilder(path: String)
    extends ScanBuilder with SupportsPushDownRequiredColumns {
  private var required: StructType = ShardDataSource.Schema
  override def pruneColumns(requiredSchema: StructType): Unit =
    // empty projections (e.g. count(*)) still need row cardinality;
    // an empty struct is a legal required schema here
    required = requiredSchema
  override def build(): Scan = new ShardScan(path, required)
}

private[sources] class ShardScan(path: String, required: StructType)
    extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def planInputPartitions(): Array[InputPartition] = {
    val p = new Path(path)
    val fs = p.getFileSystem(
      org.apache.spark.sql.SparkSession.active.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Array.empty
    else fs.listStatus(p)
      .filter(st => st.isFile && st.getPath.getName.startsWith("shard-"))
      .sortBy(_.getPath.getName)
      .map(st => ShardInputPartition(st.getPath.toString): InputPartition)
  }
  override def createReaderFactory(): PartitionReaderFactory =
    new ShardReaderFactory(required.fieldNames)
}

private[sources] final case class ShardInputPartition(file: String)
    extends InputPartition

private[sources] class ShardReaderFactory(fields: Array[String])
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new ShardPartitionReader(
      partition.asInstanceOf[ShardInputPartition].file, fields)
}

/** Streams one shard file; honors column pruning — when `payload` is
  * not required its bytes are `skip`ped, never allocated.
  */
private[sources] class ShardPartitionReader(file: String, fields: Array[String])
    extends PartitionReader[InternalRow] {
  private val (in: DataInputStream, fileLen: Long) = {
    val p = new Path(file)
    val fs = p.getFileSystem(ShardWriter.taskConf)
    (new DataInputStream(new BufferedInputStream(
      ShardWriter.openStream(fs, p), 1 << 16)),
      fs.getFileStatus(p).getLen)
  }
  private val needPayload = fields.contains("payload")
  private val needDocId = fields.contains("doc_id")
  private var row: InternalRow = _
  // bytes of the file consumed so far: java.io/FS skip() cannot signal
  // EOF (FileInputStream.skip happily "skips" past the end), so record
  // bounds are checked against the file length instead
  private var pos: Long = 0L

  override def next(): Boolean = {
    // clean end is exactly the file boundary; a partial header is
    // corruption, not end-of-data
    if (pos == fileLen) return false
    if (fileLen - pos < 12L)
      throw new EOFException(
        s"truncated shard record in $file: partial header at offset $pos " +
          s"of a $fileLen-byte file")
    val docId = in.readLong()
    val len = in.readInt()
    pos += 12L
    if (len < 0 || pos + len > fileLen)
      throw new EOFException(
        s"truncated shard record in $file: header declares $len payload " +
          s"bytes at offset $pos of a $fileLen-byte file")
    pos += len
    val values = new Array[Any](fields.length)
    if (needPayload) {
      val payload = new Array[Byte](len)
      in.readFully(payload)
      values(fields.indexOf("payload")) = payload
    } else {
      // pruned scan: payload bytes are skipped, never allocated. The
      // length check above already proved the bytes exist, so a
      // non-positive skip return can only be a concurrent truncation —
      // surface it rather than spinning.
      var toSkip = len.toLong
      while (toSkip > 0) {
        val skipped = in.skip(toSkip)
        if (skipped > 0) toSkip -= skipped
        else if (in.read() >= 0) toSkip -= 1
        else throw new EOFException(
          s"truncated shard record in $file: $toSkip payload bytes missing")
      }
    }
    if (needDocId) values(fields.indexOf("doc_id")) = docId
    row = new GenericInternalRow(values)
    true
  }

  override def get(): InternalRow = row
  override def close(): Unit = in.close()
}
