package graft.sources

import java.io.{BufferedReader, InputStreamReader}
import java.nio.charset.StandardCharsets

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

import graft.etl.Schemas

/** DataSource V2 connectors for the raw stock sources (SURVEY.md §2.1
  * S1/S2 production mapping, reference `dags/utils/extractors.py:13-144`):
  * the source payload — a landed file standing in for the API response
  * body — is presented as a Spark table under a registered format name,
  * so extraction composes with the rest of the engine as
  * `spark.read.format("alphavantage").load(dir)` →
  * [[graft.etl.Normalize.alphaVantage]].
  *
  * Scan shape: one input partition per landed file (a symbol's payload
  * is small; parallelism scales with file count, the landing-dir
  * cadence at scale), column pruning pushed into the reader
  * (`SupportsPushDownRequiredColumns` — a projection never parses the
  * pruned cells' types). The parser handles the sources' own payload
  * grammar (header + comma rows, empty cell = null) rather than
  * delegating to the generic CSV source — the point of the connector
  * is to own the payload format.
  *
  * The session Hadoop conf (`fs.*` keys, s3a credentials, endpoint
  * overrides) reaches the executor readers as one broadcast per scan,
  * taken when the scan's reader factory is created.
  */
abstract class RawStockSourceBase extends TableProvider with DataSourceRegister {
  def rawSchema: StructType
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = rawSchema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: java.util.Map[String, String]): Table =
    new RawStockTable(shortName(), rawSchema, properties.get("path"))
}

/** `format("alphavantage")`: raw Alpha Vantage daily-bars shape. */
class AlphaVantageSource extends RawStockSourceBase {
  override def shortName(): String = "alphavantage"
  override def rawSchema: StructType = Schemas.rawAlphaVantage
}

/** `format("yahoofinance")`: raw Yahoo history shape (noise columns
  * included — the keep-list projection is Normalize's job). */
class YahooFinanceSource extends RawStockSourceBase {
  override def shortName(): String = "yahoofinance"
  override def rawSchema: StructType = Schemas.rawYahoo
}

class RawStockTable(fmt: String, tableSchema: StructType, path: String)
    extends Table with SupportsRead {
  require(path != null,
    s"""$fmt source requires a path: spark.read.format("$fmt").load(path)""")
  override def name(): String = s"$fmt($path)"
  override def schema(): StructType = tableSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new RawStockScanBuilder(tableSchema, path)
}

class RawStockScanBuilder(full: StructType, path: String)
    extends ScanBuilder with SupportsPushDownRequiredColumns {
  private var required: StructType = full
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema
  override def build(): Scan = new RawStockScan(required, path)
}

class RawStockScan(required: StructType, path: String) extends Scan with Batch {
  // The SESSION's Hadoop conf (s3a credentials, endpoints, hdfs
  // overrides), not a bare `new Configuration()`.
  private val sc = SparkSession.active.sparkContext
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def planInputPartitions(): Array[InputPartition] = {
    val p = new Path(path)
    val fs = p.getFileSystem(sc.hadoopConfiguration)
    val files =
      if (fs.getFileStatus(p).isDirectory)
        fs.listStatus(p).filter { st =>
          val n = st.getPath.getName
          st.isFile && !n.startsWith("_") && !n.startsWith(".")
        }.map(_.getPath.toString)
      else Array(path)
    files.sorted.map(f => RawStockPartition(f): InputPartition)
  }
  // Broadcast once per scan, as Spark's own file scans do: the factory
  // carries only the handle, so a task of a union of N scans
  // deserializes N handles, not N copies of the whole conf.
  override def createReaderFactory(): PartitionReaderFactory =
    new RawStockReaderFactory(required,
      sc.broadcast(new SerializableConfiguration(sc.hadoopConfiguration)))
}

case class RawStockPartition(file: String) extends InputPartition

class RawStockReaderFactory(required: StructType, conf: Broadcast[SerializableConfiguration])
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new RawStockReader(required,
      partition.asInstanceOf[RawStockPartition].file, conf.value.value)
}

/** Streams one landed file: header line maps payload columns to the
  * required (possibly pruned) schema positions; empty cells are NULL;
  * a column absent from the payload is NULL throughout (late payload
  * evolution must not crash extraction — the validators catch it). */
class RawStockReader(required: StructType, file: String, conf: Configuration)
    extends PartitionReader[InternalRow] {
  private val path = new Path(file)
  private val reader = new BufferedReader(new InputStreamReader(
    path.getFileSystem(conf).open(path), StandardCharsets.UTF_8))
  private val header: Array[String] =
    Option(reader.readLine()).map(_.split(",", -1).map(_.trim))
      .getOrElse(Array.empty)
  private val colIdx: Array[Int] = required.fields.map(f => header.indexOf(f.name))
  private var current: InternalRow = _

  @annotation.tailrec
  final override def next(): Boolean = {
    val line = reader.readLine()
    if (line == null) false
    else if (line.trim.isEmpty) next()
    else { current = parse(line); true }
  }

  private def parse(line: String): InternalRow = {
    val cells = line.split(",", -1)
    InternalRow.fromSeq(required.fields.toSeq.zip(colIdx.toSeq).map { case (f, i) =>
      val raw = if (i < 0 || i >= cells.length) "" else cells(i).trim
      if (raw.isEmpty) null
      else f.dataType match {
        case StringType => UTF8String.fromString(raw)
        case DoubleType => java.lang.Double.valueOf(raw)
        case LongType => java.lang.Long.valueOf(raw)
        case TimestampType =>
          DateTimeUtils.stringToTimestamp(
            UTF8String.fromString(raw), java.time.ZoneOffset.UTC)
            .map(java.lang.Long.valueOf)
            .getOrElse(throw new IllegalArgumentException(
              s"unparseable timestamp '$raw' in $file"))
        case dt => throw new IllegalArgumentException(
          s"unsupported payload type $dt for column ${f.name}")
      }
    })
  }

  override def get(): InternalRow = current
  override def close(): Unit = reader.close()
}
