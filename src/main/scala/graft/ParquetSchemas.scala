package graft

import java.util.{LinkedHashMap => JLinkedHashMap, Map => JMap, WeakHashMap}
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.{Footer, ParquetFileReader, ParquetFileWriter}
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.InMemoryFileIndex
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter, ParquetUtils}
import org.apache.spark.sql.types.StructType

/** The session's memo of inferred parquet schemas, and the one way
  * `src/main` reads parquet by path.
  *
  * `spark.read.parquet(paths)` starts a Spark job
  * (`SchemaMergeUtils.mergeSchemasInParallel`) to read a footer before
  * it builds the relation, even when the session read the same files a
  * moment before: 14 of the 51 jobs of a warm `registry_mix` pass, and
  * about 9% of its CPU (docs/PLANS.md). Here no read starts that job.
  * The first read of a set of files reads the schema on the driver
  * ([[inferSchema]]: the one footer Spark's inference would pick, read
  * and converted as Spark's job does); every read passes the schema
  * through `spark.read.schema(...)`, which resolves the same relation
  * (equal analyzed plans, the same pushdown and pruning). A later read
  * of the same files takes the schema from the memo and reads no
  * footer. Only a session that merges schemas
  * (`spark.sql.parquet.mergeSchema`) still infers with Spark's job,
  * which reads every footer.
  *
  * The key is the session (weakly held: the memo goes with it), the
  * sorted paths, a fingerprint of the data files under them — name,
  * length and mtime of every file a recursive Hadoop `listStatus` finds
  * under each path, so files in nested partition directories count
  * and no directory mtime is trusted — and the explicitly set confs that
  * steer inference. A rewrite that adds, drops or changes a file at any
  * depth changes the key, so it is inferred again; a path that does not
  * list (missing, or a glob) is read without the memo, and Spark reports
  * it as before. At most 128 entries per session, the least recently
  * used dropped first.
  */
object ParquetSchemas {

  private final case class Key(paths: Seq[String], files: Seq[(String, Long, Long)],
      confs: Map[String, String])

  /** Conf prefixes whose values can change an inferred schema: parquet
    * type mapping (binary as string, INT96, nanos, NTZ), schema merging,
    * file and partition discovery, case sensitivity, the zone of
    * partition values. */
  private val InferenceConfs = Seq("spark.sql.parquet.", "spark.sql.legacy.parquet.",
    "spark.sql.files.", "spark.sql.sources.", "spark.sql.caseSensitive",
    "spark.sql.session.timeZone")

  private val memo = new WeakHashMap[SparkSession, JLinkedHashMap[Key, StructType]]()

  /** `spark.read.parquet(paths: _*)`, with no schema inference job. */
  def read(spark: SparkSession, paths: String*): DataFrame =
    key(spark, paths).fold(spark.read.parquet(paths: _*)) { k =>
      lookup(spark, k) match {
        case Some(schema) => spark.read.schema(schema).parquet(paths: _*)
        case None =>
          // the files Spark's relation lists: hidden and `_` names
          // dropped, summary files kept, partition directories walked
          val files = new InMemoryFileIndex(spark, paths.map(new Path(_)), Map.empty, None).allFiles()
          // no footer to read: Spark raises its own error
          val df = inferSchema(spark, files)
            .fold(spark.read.parquet(paths: _*))(spark.read.schema(_).parquet(paths: _*))
          store(spark, k, df.schema)
          df
      }
    }

  /** The data schema `ParquetUtils.inferSchema` gives `files` with no
    * options, with no Spark job unless the session merges schemas.
    * Without merging, Spark reads one footer: `_common_metadata`, else
    * `_metadata`, else the first data file by path. That footer is read
    * here, on the driver, and converted as Spark's job converts it
    * (`ParquetFileFormat.readSchemaFromFooter`: the Spark schema a
    * Spark writer stored, else the parquet schema under the session's
    * type-mapping confs). None when `files` has no footer to read. */
  def inferSchema(spark: SparkSession, files: Seq[FileStatus]): Option[StructType] = {
    val conf = spark.sessionState.conf
    if (conf.isParquetSchemaMergingEnabled) ParquetUtils.inferSchema(spark, Map.empty, files)
    else {
      val summaries = Seq(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE,
        ParquetFileWriter.PARQUET_METADATA_FILE)
      val sorted = files.sortBy(_.getPath.toString)
      summaries.flatMap(n => sorted.find(_.getPath.getName == n)).headOption
        .orElse(sorted.find(f => !summaries.contains(f.getPath.getName)))
        .map { f =>
          val meta = footer(HadoopInputFile.fromStatus(f, spark.sessionState.newHadoopConf()),
            ParquetMetadataConverter.SKIP_ROW_GROUPS)
          ParquetFileFormat.readSchemaFromFooter(new Footer(f.getPath, meta),
            new ParquetToSparkSchemaConverter(conf))
        }
    }
  }

  /** The footer of one parquet file; `filter` decides which row groups
    * it keeps. */
  def footer(file: HadoopInputFile, filter: ParquetMetadataConverter.MetadataFilter): ParquetMetadata = {
    val options = HadoopReadOptions.builder(file.getConfiguration, file.getPath)
      .withMetadataFilter(filter).build()
    val reader = ParquetFileReader.open(file, options)
    try reader.getFooter finally reader.close()
  }

  private def key(spark: SparkSession, paths: Seq[String]): Option[Key] =
    if (paths.isEmpty) None
    else scala.util.Try {
      val hadoopConf = spark.sessionState.newHadoopConf()
      val files = paths.flatMap { p =>
        val path = new Path(p)
        leafFiles(path.getFileSystem(hadoopConf), path)
      }
      Key(paths.sorted, files.sorted, confs(spark))
    }.toOption

  /** Name, length and mtime of every file under `path`, at any depth,
    * by `listStatus` one directory at a time. Not `listFiles(path, true)`:
    * its located statuses read each local file's permissions through a
    * shell command when Hadoop's native library is absent (6.8 ms a call
    * on a one-table directory, against 0.05 ms for a `listStatus`). */
  private def leafFiles(fs: FileSystem, path: Path): Seq[(String, Long, Long)] =
    fs.listStatus(path).toSeq.flatMap { f =>
      if (f.isDirectory) leafFiles(fs, f.getPath)
      else Seq((f.getPath.toString, f.getLen, f.getModificationTime))
    }

  private def confs(spark: SparkSession): Map[String, String] =
    spark.sessionState.conf.getAllConfs.filter { case (k, _) => InferenceConfs.exists(k.startsWith) }

  private def lru(spark: SparkSession): JLinkedHashMap[Key, StructType] = {
    var m = memo.get(spark)
    if (m == null) {
      m = new JLinkedHashMap[Key, StructType](16, 0.75f, true) {
        override def removeEldestEntry(e: JMap.Entry[Key, StructType]): Boolean = size() > 128
      }
      memo.put(spark, m)
    }
    m
  }

  private def lookup(spark: SparkSession, k: Key): Option[StructType] =
    memo.synchronized(Option(lru(spark).get(k)))

  private def store(spark: SparkSession, k: Key, schema: StructType): Unit =
    memo.synchronized { lru(spark).put(k, schema); () }
}
