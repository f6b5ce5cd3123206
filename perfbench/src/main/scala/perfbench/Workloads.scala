package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}

import graft.{CheckpointBlocks, SparkEntry}
import graft.pipeline.{AirbnbStages, PipelineRunner}
import graft.sources.StateStore

/** One closed-loop operation of a workload. */
final case class Op(name: String, run: () => Unit)

/** A workload: its ops, its per-pass and per-op hygiene, the untimed
  * warm-up that belongs to set-up, and the untimed correctness dump. */
trait Workload {
  def ops: Seq[Op]
  /** Ops run in seed-shuffled order unless the workload is sequential. */
  def shuffled: Boolean
  def startPass(pass: Int): Unit = ()
  def beforeOp(): Unit = ()
  def warmUp(): Unit
  /** Write what the correctness check compares; returns per-op status. */
  def dumpForCheck(outDir: Path): Seq[(String, String)]
  /** Facts about the run's final state (e.g. bytes of published models). */
  def finalState: Map[String, Double] = Map.empty
}

/** `suite_sf0.01` / `curation_sf0.1`: QDefs from [[SparkEntry]] executed
  * into a noop sink, exactly as the engine's own bench runner does. */
final class QueryWorkload(spark: SparkSession, dataDir: String, names: Seq[String],
                          tracer: Tracer) extends Workload {
  private val defs = {
    val byName = SparkEntry.defs.map(d => d.name -> d).toMap
    names.map(n => byName.getOrElse(n, throw new IllegalArgumentException(s"unknown QDef $n")))
  }

  val shuffled = true

  val ops: Seq[Op] = defs.map { d =>
    Op(d.name, () => {
      val df = tracer.span("queries.build", d.name)(d.fn(spark, dataDir))
      tracer.span("queries.action", d.name)(df.write.mode("overwrite").format("noop").save())
      CheckpointBlocks.release(df)
    })
  }

  // a persisted sketch frame from one query must not serve the next
  override def beforeOp(): Unit = spark.catalog.clearCache()

  def warmUp(): Unit = {
    spark.range(1 << 20).selectExpr("sum(id)").collect()
    graft.Tables.names.foreach(t => graft.Tables.load(spark, dataDir, t).limit(1).collect())
  }

  def dumpForCheck(outDir: Path): Seq[(String, String)] = {
    val status = defs.map { d =>
      spark.catalog.clearCache()
      d.name -> Outcome.of {
        val df = d.fn(spark, dataDir)
        df.coalesce(1).write.mode("overwrite").parquet(outDir.resolve(d.name).toString)
        CheckpointBlocks.release(df)
      }
    }
    val want = names.toSet
    def dump(file: String, m: Map[String, String]): Unit =
      Files.writeString(outDir.resolve(file), Json.obj(
        m.toSeq.filter(kv => want(kv._1)).sortBy(_._1).map { case (k, v) => k -> Json.str(v) }))
    dump("oracle_sql.json", SparkEntry.oracleSql)
    dump("scopes.json", SparkEntry.queryScopes)
    status
  }
}

/** A [[StateStore]] whose calls are spans of the traced run. The store's
  * own behaviour is untouched: every method defers to the engine's. */
final class TracedStore(spark: SparkSession, root: String, tracer: Tracer)
    extends StateStore(spark, root) {
  override def publish(df: DataFrame, name: String,
                       validate: DataFrame => Unit): Unit = {
    tracer.span("statestore.publish", name)(super.publish(df, name, validate))
    if (tracer.enabled) {
      val files = Workloads.parquetFiles(Paths.get(root, name))
      tracer.attrLast("files", files.size.toDouble)
      tracer.attrLast("bytes", files.map(Files.size).sum.toDouble)
    }
  }
  override def read(name: String): DataFrame =
    tracer.span("statestore.read", name)(super.read(name))
  override def exists(name: String): Boolean =
    tracer.span("statestore.exists", name)(super.exists(name))
}

/** `airbnb_monthly`: one op = one month of the five-stage pipeline, from
  * the raw CSV feeds to published models. A pass replays all months
  * against a fresh store, so the state grows month over month. */
final class AirbnbWorkload(spark: SparkSession, dataDir: String, workDir: Path,
                           tracer: Tracer) extends Workload {
  import Workloads._

  private val months = Files.list(Paths.get(dataDir)).toArray.map(_.asInstanceOf[Path])
    .map(_.getFileName.toString).filter(_.matches("[0-9]{2}")).sorted.toSeq
  private var passRoot: Path = _
  private var runner: PipelineRunner = _

  val shuffled = false

  override def startPass(pass: Int): Unit = {
    if (passRoot != null) deleteTree(passRoot)
    passRoot = workDir.resolve(s"pass_$pass")
    runner = new PipelineRunner(spark,
      new TracedStore(spark, passRoot.resolve("models").toString, tracer))
  }

  private def csv(ddl: String, path: String): DataFrame =
    spark.read.option("header", "true").option("multiLine", "true")
      .option("escape", "\"").option("timestampFormat", "yyyy-MM-dd HH:mm:ss.SSSSSS")
      .schema(ddl).csv(path)

  private lazy val stations: DataFrame = spark.createDataFrame(
    java.util.Arrays.asList(Stations.map { case (id, c) => Row(id, c) }: _*),
    StructType(Seq(StructField("staid", IntegerType), StructField("city", StringType))))

  /** Part I (`preprocess_data`): raw CSV -> normalized, staged parquet. */
  private def preprocess(month: String): (DataFrame, DataFrame) = {
    val stage = passRoot.resolve("staging").resolve(month)
    val listings = AirbnbStages.preprocessListings(
        csv(ListingsDdl, s"$dataDir/$month/listings.csv"), ListingsDropCols, "last_scraped")
      .withColumnRenamed("id", "listing_id")
    val reviews = csv(ReviewsDdl, s"$dataDir/$month/reviews.csv")
      .withColumnRenamed("id", "review_id")
    listings.write.mode("overwrite").parquet(stage.resolve("listings").toString)
    reviews.write.mode("overwrite").parquet(stage.resolve("reviews").toString)
    (spark.read.parquet(stage.resolve("listings").toString),
      spark.read.parquet(stage.resolve("reviews").toString))
  }

  val ops: Seq[Op] = months.map { m =>
    Op(s"month_$m", () => {
      val (listings, reviews) = tracer.span("pipeline.preprocess", m)(preprocess(m))
      tracer.span("pipeline.listings_hosts", m)(runner.runListingsHosts(listings, HostCols))
      tracer.span("pipeline.weather", m)(runner.runWeather(
        csv("staid INT, date STRING, tg INT", s"$dataDir/weather/temp.csv"),
        csv("staid INT, date STRING, rr INT", s"$dataDir/weather/rain.csv"), stations))
      tracer.span("pipeline.reviews", m)(runner.runReviews(reviews))
      tracer.span("pipeline.reviewers", m)(runner.runReviewers())
    })
  }

  def warmUp(): Unit = {
    spark.range(1 << 20).selectExpr("sum(id)").collect()
    csv(ListingsDdl, s"$dataDir/${months.head}/listings.csv").limit(1).collect()
  }

  /** The models the timed run published stay in the last pass's store;
    * the check reads them there, so nothing is re-run here. */
  def dumpForCheck(outDir: Path): Seq[(String, String)] = Nil

  override def finalState: Map[String, Double] = {
    val models = passRoot.resolve("models")
    val files = Seq("listings", "hosts", "weather", "reviews", "reviewers")
      .flatMap(n => parquetFiles(models.resolve(n)))
    Map("state_bytes" -> files.map(Files.size).sum.toDouble)
  }

  def modelsDir: Path = passRoot.resolve("models")
}

object Workloads {
  val ListingsDdl: String = Seq("`ID` BIGINT", "`Host ID` BIGINT", "`Host Name` STRING",
    "`Host Since` TIMESTAMP", "`Host City` STRING", "`City` STRING", "`Name` STRING",
    "`Price` DOUBLE", "`Room Type` STRING", "`Accommodates` INT", "`Junk Col` STRING",
    "`Square Feet` INT", "`Last Scraped` TIMESTAMP").mkString(", ")
  val ReviewsDdl = "listing_id BIGINT, id BIGINT, date TIMESTAMP, reviewer_id BIGINT, " +
    "reviewer_name STRING, comments STRING"
  val ListingsDropCols = Seq("junk_col", "square_feet")
  val HostCols = Seq("host_id", "host_name", "host_since", "host_city")
  val Stations = Seq(593 -> "Amsterdam", 41 -> "Berlin", 1860 -> "London", 11249 -> "Paris")

  def parquetFiles(dir: Path): Seq[Path] =
    if (!Files.isDirectory(dir)) Nil
    else {
      val s = Files.list(dir)
      try s.toArray.map(_.asInstanceOf[Path]).filter(_.toString.endsWith(".parquet")).toSeq
      finally s.close()
    }

  def deleteTree(p: Path): Unit = {
    if (Files.isDirectory(p)) {
      val s = Files.list(p)
      try s.forEach(c => deleteTree(c)) finally s.close()
    }
    Files.deleteIfExists(p)
  }
}

/** Outcome of one op: "ok", "refused" (a designed [[graft.ScaleRefusal]])
  * or "failed: <message>". */
object Outcome {
  def of(f: => Unit): String =
    try { f; "ok" }
    catch {
      case _: graft.ScaleRefusal => "refused"
      case e: Throwable => "failed: " + e.toString.take(300)
    }
}
