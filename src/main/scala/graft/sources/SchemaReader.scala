package graft.sources

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.hadoop.mapreduce.{Job, TaskAttemptID}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.execution.datasources.{FileFormat, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.{DataType, StructField, StructType}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile

import graft.sinks.ForkFreeLocalFileSystem
import graft.streaming.StreamParse

/** Schema-coerced, drift-tolerant parquet reader (capabilities S1–S4,
  * SURVEY.md §2.1).
  *
  * The reference enumerates the live folder glob through a py4j gateway
  * (`pyspark/batch_stock.py:18-27`), reads each fragment separately,
  * force-casts every column to a hand-written StructType
  * (`cast_columns_to_schema`, `pyspark/batch_stock.py:11-16`) and folds
  * the fragments with `unionByName(allowMissingColumns=True)`
  * (`pyspark/batch_stock.py:35`).
  *
  * Spark-first re-expression: the per-file union loop defeats
  * FileSourceScanExec's multi-file parallelism, so [[read]] unions one
  * multi-path vectorized scan per footer shape — for agreeing fragments
  * a SINGLE scan, the only viable shape at 100 TB (split planning by
  * `spark.sql.files.maxPartitionBytes`, no N-way union of N scans).
  */
object SchemaReader {

  /** Hadoop glob enumeration of a path pattern — capability S2
    * (`batch_stock.py:18-27`), direct JVM call (no gateway). */
  def glob(spark: SparkSession, pattern: String): Seq[String] = {
    val path = new Path(pattern)
    val fs: FileSystem = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Option(fs.globStatus(path)).map(_.toSeq.map(_.getPath.toString)).getOrElse(Seq.empty)
  }

  /** Capability S4: cast every declared column to its declared type;
    * declared-but-absent columns materialize as typed nulls; undeclared
    * junk columns (e.g. `UNNAMED_FIELD` `ML_stock.py:80`, `wind_deg`
    * `merge_openweather.py:78`) are dropped by omission. */
  def coerce(df: DataFrame, schema: StructType): DataFrame = {
    val present = df.columns.toSet
    // try_cast: under Spark 4's default ANSI mode a malformed cell would
    // abort the job; the reference's coercion degrades it to null.
    df.select(schema.fields.map { f =>
      if (present(f.name)) col(f.name).try_cast(f.dataType).as(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    }.toSeq: _*)
  }

  /** One parquet file's footer: its Spark schema, record count and size. */
  private[graft] case class Footer(path: String, schema: StructType, rows: Long, bytes: Long)

  /** THE footer walk every parquet source takes its schema and row
    * counts from: on the driver, no Spark job (inference costs one per
    * read), O(files), nothing cached. `path` is a file or a flat
    * directory of part files: `_`/`.` entries are skipped as Spark's
    * reader skips them, any other subdirectory fails (a partitioned
    * layout would drop its partition column and undercount). A reader
    * that declares the `partition` column walks one level of
    * `partition=<v>` directories instead, each flat; the footers do not
    * carry that column. Spark's own converter over the session conf
    * gives the schema inference gives, `nanosAsLong` included. */
  private[graft] def footers(spark: SparkSession, path: String,
      partition: Option[String] = None): Seq[Footer] = {
    val conf = spark.sessionState.newHadoopConf()
    val fs = new Path(path).getFileSystem(conf)
    def visible(dir: Path): Seq[FileStatus] = fs.listStatus(dir).toSeq
      .filterNot(st => "_.".contains(st.getPath.getName.head))
    def flat(dir: Path): Seq[FileStatus] = {
      val (dirs, files) = visible(dir).partition(_.isDirectory)
      require(dirs.isEmpty, s"$dir: flat parquet directory expected, found " +
        s"subdirectories ${dirs.map(_.getPath.getName).take(3).mkString(", ")} (a partitioned layout)")
      files.sortBy(_.getPath.getName)
    }
    val top = fs.getFileStatus(new Path(path))
    val files =
      if (!top.isDirectory) Seq(top)
      else partition.fold(flat(top.getPath)) { k =>
        val (cells, stray) = visible(top.getPath)
          .partition(st => st.isDirectory && st.getPath.getName.startsWith(s"$k="))
        require(stray.isEmpty, s"$path: only $k=<value> directories expected, found " +
          stray.map(_.getPath.getName).take(3).mkString(", "))
        cells.sortBy(_.getPath.getName).flatMap(d => flat(d.getPath))
      }
    val converter = new ParquetToSparkSchemaConverter(spark.sessionState.conf)
    files.map { st =>
      // options from `conf`: the one-argument open parses a new Configuration per file
      val r = ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf),
        HadoopReadOptions.builder(conf, st.getPath).build())
      try Footer(st.getPath.toString, ParquetFileFormat.readSchemaFromFooter(
        new org.apache.parquet.hadoop.Footer(st.getPath, r.getFooter), converter),
        r.getRecordCount, st.getLen)
      finally r.close()
    }
  }

  /** Every column of `footers` by name, in first-seen order (files
    * without one read it as null); a type that differs between files
    * fails, naming two of them. */
  private[graft] def unionSchema(footers: Seq[Footer]): StructType = {
    val seen = scala.collection.mutable.LinkedHashMap.empty[String, (StructField, String)]
    for (f <- footers; field <- f.schema.fields) seen.get(field.name) match {
      case None => seen(field.name) = (field, f.path)
      case Some((first, from)) =>
        require(DataType.equalsIgnoreNullability(first.dataType, field.dataType),
          s"column '${field.name}' is ${first.dataType.simpleString} in $from " +
            s"but ${field.dataType.simpleString} in ${f.path}")
    }
    StructType(seen.values.map(_._1).toSeq)
  }

  /** A part the engine stored, or any parquet file or flat directory
    * (`Tables.t`), read under the union of its footers; a part
    * partitioned by the declared `partition` column gets that column
    * after the file columns, as Spark's partition discovery puts it. No
    * inference job. */
  private[graft] def readArtifact(spark: SparkSession, path: String,
      partition: Option[StructField] = None): DataFrame = {
    val files = unionSchema(footers(spark, path, partition.map(_.name)))
    spark.read.schema(partition.fold(files)(files.add)).parquet(path)
  }

  /** Every row of a small part (a model, a one-row meta), decoded on the
    * driver by Spark's own parquet reader under the footer schema: no
    * Spark job, and every page is read, so a corrupt part fails here.
    * A part partitioned by `partition` gives its file columns only. */
  private[graft] def collectArtifact(spark: SparkSession, path: String,
      partition: Option[String] = None): Seq[Row] = {
    val files = footers(spark, path, partition)
    val schema = unionSchema(files)
    val read = new ParquetFileFormat().buildReaderWithPartitionValues(spark, schema,
      new StructType(), schema, Nil, Map(FileFormat.OPTION_RETURNING_BATCH -> "false"),
      spark.sessionState.newHadoopConf())
    val toRow = CatalystTypeConverters.createToScalaConverter(schema)
    files.flatMap(f => read(PartitionedFile(InternalRow.empty,
      SparkPath.fromPath(new Path(f.path)), 0L, f.bytes))
      .map(toRow(_).asInstanceOf[Row]).toList) // the reader reuses its row
  }

  /** [[writeArtifact]] of named values, each column typed as `lit` types
    * its value in the first row and non-null: the footer a Spark write
    * of `spark.range(1).select(lit(v).as(name), …)` (or of a local
    * `toDF` of primitives) carries. */
  private[graft] def writeRows(spark: SparkSession, dir: String,
      rows: Seq[(String, Any)]*): Unit = {
    require(rows.nonEmpty, s"$dir: no rows to write")
    writeArtifact(spark, dir, StructType(rows.head.map { case (name, v) =>
      StructField(name, Literal(v).dataType, nullable = false) }),
      rows.map(r => Row.fromSeq(r.map(_._2))))
  }

  /** Write `rows` as the single part file of the flat part `dir` (a
    * model, a one-row meta), encoded on the driver by Spark's own
    * parquet writer: no Spark job, and the footer a Spark write of
    * `schema` carries, nullability included. The file is written under a
    * hidden name, every other entry of `dir` is then removed (an earlier
    * part, `_SUCCESS`, a crashed write's hidden file), and the file is
    * renamed into place: at every instant `dir` shows the old rows, no
    * rows, or the new rows, never two generations at once. */
  private[graft] def writeArtifact(spark: SparkSession, dir: String, schema: StructType,
      rows: Seq[Row]): Unit = {
    val job = Job.getInstance(ForkFreeLocalFileSystem.hadoopConf(spark))
    val factory = new ParquetFileFormat().prepareWrite(spark, job, Map.empty, schema)
    val ctx = new TaskAttemptContextImpl(job.getConfiguration, new TaskAttemptID())
    val parent = new Path(dir)
    val name = s"part-00000-${java.util.UUID.randomUUID}-c000${factory.getFileExtension(ctx)}"
    val hidden = new Path(parent, s".$name")
    val out = factory.newInstance(hidden.toString, schema, ctx)
    val toInternal = CatalystTypeConverters.createToCatalystConverter(schema)
    try rows.foreach(r => out.write(toInternal(r).asInstanceOf[InternalRow])) finally out.close()
    val fs = parent.getFileSystem(job.getConfiguration)
    fs.listStatus(parent).map(_.getPath).filter(_.getName != hidden.getName)
      .foreach(fs.delete(_, true))
    require(fs.rename(hidden, new Path(parent, name)), s"$dir: renaming $hidden into place failed")
  }

  /** Capability S3 (`batch_stock.py:18-36`): parquet fragments (files or
    * flat part-file directories) as the declared `schema`, one multi-path
    * scan per footer schema (declared columns only, any order), each
    * [[coerce]]d, folded with `unionByName`. Agreeing fragments (junk
    * columns and column order aside) are one scan. */
  def read(spark: SparkSession, schema: StructType, paths: Seq[String]): DataFrame = {
    val files = paths.flatMap(footers(spark, _))
    require(files.nonEmpty, s"read: no parquet files in [${paths.mkString(", ")}]")
    val names = schema.fieldNames.toSet
    def declared(f: Footer): StructType = StructType(f.schema.fields.filter(c => names(c.name)))
    files.groupBy(f => declared(f).fields.map(c => (c.name, c.dataType.catalogString)).sorted.toSeq)
      .values.toSeq
      .map(g => coerce(spark.read.schema(declared(g.head)).parquet(g.map(_.path): _*), schema))
      .reduce(_.unionByName(_))
  }

  /** CSV with the same lenient-parse-then-coerce contract as the stream
    * sources (§2.1 T2): every field reads as string (so a malformed cell
    * can't abort the scan under ANSI mode), then [[coerce]] casts to the
    * declared schema with per-cell null degradation. One multi-path
    * scan; header column names drive the by-name coercion. */
  def readCsv(spark: SparkSession, schema: StructType, paths: Seq[String],
      header: Boolean = true, delimiter: String = ","): DataFrame = {
    val raw = spark.read
      .option("header", header.toString)
      .option("delimiter", delimiter)
      .csv(paths: _*)
    // headerless files get positional names from the declared schema;
    // trailing undeclared columns (schema drift) are dropped BEFORE the
    // rename — toDF would throw on the arity mismatch otherwise, while
    // the documented contract drops junk columns by omission
    val named =
      if (header) raw
      else {
        val keep = raw.columns.take(schema.fields.length).toIndexedSeq
        raw.select(keep.map(col): _*)
          .toDF(schema.fieldNames.take(keep.length).toIndexedSeq: _*)
      }
    coerce(named, schema)
  }

  /** JSON-lines with the same contract: schema-as-strings scan (field
    * presence only), then declared-type coercion. Malformed lines
    * surface as all-null rows rather than failures, matching the
    * streaming payload parser's degradation. */
  def readJson(spark: SparkSession, schema: StructType, paths: Seq[String]): DataFrame =
    coerce(spark.read.schema(StreamParse.lenientSchema(schema)).json(paths: _*), schema)

  /** ORC with the declared-schema coercion contract — same columnar
    * scan/pushdown properties as parquet (ORC is the other common
    * warehouse format the engine should ingest without conversion). */
  def readOrc(spark: SparkSession, schema: StructType, paths: Seq[String]): DataFrame =
    coerce(spark.read.orc(paths: _*), schema)
}
