package graft.sources

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}

import scala.util.Try

/** Parquet-backed incremental-model state with atomic publish.
  *
  * Reproduces the reference's S3-dir-as-state protocol (SURVEY §2.1
  * S7/S8): existence probe gates idempotent step skips
  * (`apps/preprocess_data.py:17-24`), and each run writes the new model to
  * a temp prefix, validates it, then swaps temp -> final
  * (`airflow/.../airbnb-etl-airflow.py:116-135`). The reference swap is
  * delete+copy per object on S3; on an HDFS-semantics filesystem `rename`
  * is atomic, so readers never observe a half-written model. State is
  * parquet, not the reference's CSV, so schemas round-trip exactly.
  *
  * Cost: a round-trip launches Spark jobs only where it touches rows.
  * `exists` and `read` launch none: a model is read with the schema
  * Spark stored in its own footer, fetched on the driver from one part
  * file, so no footer-inference job runs. A `publish` launches the
  * write's jobs plus its gates' jobs on the read-back: `requireNonEmpty`
  * one (a limit-1 probe), `requireUniqueKey` two (the group-by shuffle
  * and an early-exit probe of its output), the schema gates none.
  * Nothing is cached between calls; every read opens the footer on disk.
  */
class StateStore(spark: SparkSession, root: String) {

  private def fs: FileSystem =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def finalPath(name: String) = new Path(s"$root/$name")
  private def tempPath(name: String) = new Path(s"$root/_tmp_$name")
  private def oldPath(name: String) = new Path(s"$root/_old_$name")

  /** Roll back a publish that crashed between its two renames: the
    * previous model sits at `_old_<name>` and `<name>` is gone. Without
    * this the model would probe absent and the next incremental run would
    * rebuild it from empty state. Assumes a single writer, like publish.
    */
  private def recover(name: String): Unit = {
    val (fin, old) = (finalPath(name), oldPath(name))
    if (!fs.exists(fin) && fs.exists(old) && !fs.rename(old, fin))
      throw new java.io.IOException(s"could not restore retired model $old to $fin")
  }

  /** S7: existence probe — the idempotent-step guard. */
  def exists(name: String): Boolean = {
    recover(name)
    fs.exists(finalPath(name))
  }

  def read(name: String): DataFrame = {
    recover(name)
    readModel(finalPath(name))
  }

  /** Read a model directory with the schema Spark wrote into its footer,
    * which is the footer `spark.read.parquet` would infer from with
    * `mergeSchema` off, but read here on the driver instead of in a
    * one-task job. Falls back to plain inference when no part file
    * carries Spark's schema (files written by another parquet writer).
    */
  private def readModel(dir: Path): DataFrame = footerSchema(dir) match {
    case Some(schema) => spark.read.schema(schema).parquet(dir.toString)
    case None => spark.read.parquet(dir.toString)
  }

  private def footerSchema(dir: Path): Option[StructType] = {
    val conf = spark.sparkContext.hadoopConfiguration
    // a missing dir yields None, so spark.read raises its usual error
    val listing = try fs.listStatus(dir) catch {
      case _: java.io.FileNotFoundException => Array.empty[FileStatus]
    }
    val part = listing.find(st => st.isFile &&
      !st.getPath.getName.startsWith("_") && !st.getPath.getName.startsWith("."))
    part.flatMap { st =>
      val options = HadoopReadOptions.builder(conf, st.getPath)
        .withMetadataFilter(ParquetMetadataConverter.SKIP_ROW_GROUPS).build()
      val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf), options)
      val json = try Option(reader.getFileMetaData.getKeyValueMetaData
        .get(StateStore.SparkSchemaKey)) finally reader.close()
      json.flatMap(j => Try(DataType.fromJson(j)).toOption.collect { case s: StructType => s })
    }
  }

  /** S8: temp write -> validate -> promote. The validation hook mirrors
    * the reference's `path_exists` / row-count quality gates
    * (`airbnb-etl-airflow.py:108-114,137-147`); it throws to abort the
    * publish, leaving the previous model untouched.
    *
    * Promotion parks the previous model at a retirement path BEFORE the
    * new one is renamed in (never delete-then-rename): a crash between
    * the two renames leaves both the old model (at `_old_`) and the
    * validated new one (at `_tmp_`) on disk, instead of a window where the
    * data exists nowhere; the next `exists` or `read` restores the old
    * model. The reader-visible gap is the instant between the two renames.
    */
  def publish(df: DataFrame, name: String,
              validate: DataFrame => Unit = StateStore.requireNonEmpty): Unit = {
    val tmp = tempPath(name)
    val fin = finalPath(name)
    val old = oldPath(name)
    // SIZE-derived output file count (r15, guide small-files rule): the
    // model frames inherit the session's shuffle parallelism, so a
    // KB-scale model otherwise lands as ~32 near-empty parquet files —
    // and every validate/read-back pays listing + per-file footer I/O
    // times the round-trip count (q180 publishes 7 models, 3 bench
    // attempts each). Target ~128 MB per file from the size estimate,
    // floor 1, cap at the current parallelism (also absorbs the
    // defaultSizeInBytes sentinel when a plan has no stats). coalesce,
    // not repartition: the A/B showed the per-publish exchange costs more
    // than it saves (q180 5.6 -> 8.8 s with repartition) — a model is an
    // already-aggregated small frame, so narrowing its final stage to the
    // file count is the cheap form; a genuinely large model keeps its
    // parallelism through the 128 MB-per-file divisor.
    // analyzed-plan stats, NOT optimizedPlan: the write action builds its
    // own QueryExecution, so touching optimizedPlan here would optimize
    // every deep model chain TWICE (measured +0.7 s per publish on q180);
    // analysis has already run when the frame was built, and the
    // size-only stats visitor is a cheap fold over either tree
    val bytes = df.queryExecution.analyzed.stats.sizeInBytes
    val cap = spark.sparkContext.defaultParallelism
    val nFiles = (bytes / (128L * 1024 * 1024) + 1).min(BigInt(cap)).toInt.max(1)
    df.coalesce(nFiles).write.mode("overwrite").parquet(tmp.toString)
    validate(readModel(tmp))
    if (fs.exists(old) && !fs.delete(old, true))
      throw new java.io.IOException(s"could not clear retirement path $old")
    if (fs.exists(fin) && !fs.rename(fin, old))
      throw new java.io.IOException(s"could not retire previous model at $fin")
    if (!fs.rename(tmp, fin))
      throw new java.io.IOException(
        s"could not promote $tmp to $fin (previous model preserved at $old)")
    fs.delete(old, true)
  }
}

object StateStore {
  /** Footer key under which Spark's parquet writer stores the row schema. */
  private val SparkSchemaKey = "org.apache.spark.sql.parquet.row.metadata"

  /** Default quality gate: the published model must have rows. */
  val requireNonEmpty: DataFrame => Unit = df =>
    require(!df.isEmpty, "refusing to publish an empty model")

  /** Gate: a column is a unique primary key (the reference's QA notebook
    * pk-uniqueness check, `emr-etl-test-notebook.ipynb` cells 26/32/42/54,
    * promoted from eyeball comparison to an assertion). The passing path
    * is one shuffle plus an early-exit emptiness probe; the duplicates are
    * counted only to word the failure.
    */
  def requireUniqueKey(key: String): DataFrame => Unit = df => {
    val dupes = df.groupBy(key).count().filter(org.apache.spark.sql.functions.col("count") > 1)
    // require's message is by-name: the count runs only on failure
    require(dupes.isEmpty, s"primary key $key has ${dupes.count()} duplicated values")
  }

  /** Gate: the model's schema is EXACTLY `expected` — same column names,
    * same order, same types (nullability excluded: parquet round-trips
    * everything nullable). The publish-time enforcement of the reference's
    * warehouse DDL (see [[graft.schema.ModelSchemas]]).
    */
  def requireSchema(expected: org.apache.spark.sql.types.StructType): DataFrame => Unit = df => {
    val got = df.schema.fields.map(f => (f.name, f.dataType)).toSeq
    val want = expected.fields.map(f => (f.name, f.dataType)).toSeq
    require(got == want,
      s"schema drift: expected ${want.mkString("[", ", ", "]")} " +
        s"but model has ${got.mkString("[", ", ", "]")}")
  }

  /** Gate: every field of `expected` is present with the exact type (extra
    * passthrough columns allowed, any order) — the contract form for
    * tables that carry deployment-specific source columns through.
    */
  def requireFields(expected: org.apache.spark.sql.types.StructType): DataFrame => Unit = df => {
    val got = df.schema.fields.map(f => f.name -> f.dataType).toMap
    expected.fields.foreach { f =>
      got.get(f.name) match {
        case None => throw new IllegalArgumentException(
          s"schema drift: required column ${f.name}: ${f.dataType} is missing")
        case Some(t) => require(t == f.dataType,
          s"schema drift: column ${f.name} is $t, contract requires ${f.dataType}")
      }
    }
  }

  /** Compose publish gates; all must pass. */
  def allOf(validators: (DataFrame => Unit)*): DataFrame => Unit =
    df => validators.foreach(_(df))
}
