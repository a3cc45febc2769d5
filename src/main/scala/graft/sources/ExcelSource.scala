package graft.sources

import java.util
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import scala.jdk.CollectionConverters._

/** DataSource V2 wrapper over the hand-rolled Excel readers:
  *
  * {{{
  * spark.read.format("graft-excel")
  *   .option("path", "/data/raw")       // file or directory
  *   .option("sheet", "Data")           // optional sheet name
  *   .load()
  * }}}
  *
  * Schema: `_file` (source filename), `_row` (0-based sheet row), and
  * `c0..c{N-1}` string cells, N = widest sheet across files (inferred
  * at planning time from the file listing; cells parse on EXECUTORS,
  * one InputPartition per workbook — the shape that scales to many
  * files even though each file is small). SURVEY.md §2.1 S3 marks this
  * optional polish over driver-side createDataFrame; both paths share
  * ExcelReader. Kept though no main calls it: the `graft-excel` format.
  */
class ExcelSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-excel"

  private def listFiles(options: CaseInsensitiveStringMap): Seq[String] = {
    val path = Option(options.get("path"))
      .getOrElse(throw new IllegalArgumentException("graft-excel: path option required"))
    val f = new java.io.File(path)
    if (f.isDirectory)
      f.listFiles().toSeq
        .filter(x => x.getName.toLowerCase.matches(".*\\.(xls|xlsx)$"))
        .map(_.getAbsolutePath).sorted
    else Seq(f.getAbsolutePath)
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val sheet = Option(options.get("sheet"))
    val width = listFiles(options)
      .map(p => graft.etl.ExcelReader.read(p, sheet).map(_.length).maxOption.getOrElse(0))
      .maxOption.getOrElse(0)
    StructType(
      StructField("_file", StringType, nullable = false) +:
      StructField("_row", LongType, nullable = false) +:
      (0 until width).map(i => StructField(s"c$i", StringType, nullable = true)))
  }

  // allow .schema(...) to skip the infer pass (which reads every
  // workbook at planning time to find the max width)
  override def supportsExternalMetadata(): Boolean = true

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new ExcelTable(schema, new CaseInsensitiveStringMap(properties))
}

private class ExcelTable(schema: StructType, options: CaseInsensitiveStringMap)
    extends Table with SupportsRead {
  override def name(): String = s"graft-excel:${options.get("path")}"
  override def schema(): StructType = schema0
  private val schema0 = schema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ).asJava
  override def newScanBuilder(o: CaseInsensitiveStringMap): ScanBuilder =
    new ExcelScanBuilder(schema0, options)
}

private class ExcelScanBuilder(schema: StructType, options: CaseInsensitiveStringMap)
    extends ScanBuilder with Scan with Batch {
  override def build(): Scan = this
  override def readSchema(): StructType = schema
  override def toBatch: Batch = this

  override def planInputPartitions(): Array[InputPartition] = {
    val path = options.get("path")
    val sheet = Option(options.get("sheet"))
    val f = new java.io.File(path)
    val files =
      if (f.isDirectory)
        f.listFiles().toSeq
          .filter(x => x.getName.toLowerCase.matches(".*\\.(xls|xlsx)$"))
          .map(_.getAbsolutePath).sorted
      else Seq(f.getAbsolutePath)
    files.map(p => ExcelPartition(p, sheet): InputPartition).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new ExcelReaderFactory(schema.length)
}

private case class ExcelPartition(path: String, sheet: Option[String])
    extends InputPartition

private class ExcelReaderFactory(nCols: Int) extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val part = p.asInstanceOf[ExcelPartition]
    new PartitionReader[InternalRow] {
      private val fileName = new java.io.File(part.path).getName
      private val rows = graft.etl.ExcelReader.read(part.path, part.sheet)
      private var i = -1
      override def next(): Boolean = { i += 1; i < rows.length }
      override def get(): InternalRow = {
        val r = rows(i)
        val vals = new Array[Any](nCols)
        vals(0) = UTF8String.fromString(fileName)
        vals(1) = i.toLong
        var c = 0
        while (c < nCols - 2) {
          vals(c + 2) =
            if (c < r.length && r(c) != null) UTF8String.fromString(r(c)) else null
          c += 1
        }
        InternalRow.fromSeq(vals.toIndexedSeq)
      }
      override def close(): Unit = {}
    }
  }
}
