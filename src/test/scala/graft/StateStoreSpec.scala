package graft

import graft.sources.StateStore
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.schema.MessageTypeParser
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.graftbridge.ListenerBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

/** The model store's read path, crash recovery and gates: footer-schema
  * reads must be indistinguishable from `spark.read.parquet`, and the job
  * counts of a read and of the key gate are pinned.
  */
class StateStoreSpec extends SparkSpec {
  import spark.implicits._

  private def newStore(): (StateStore, String) = {
    val root = Files.createTempDirectory("graft_statestore").toString
    (new StateStore(spark, root), root)
  }

  /** Spark jobs started while `f` runs (the listener bus is drained on
    * both sides so no earlier or later job is counted). */
  private def jobsIn(f: => Unit): Int = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    ListenerBridge.waitUntilEmpty(sc)
    sc.addSparkListener(listener)
    try { f; ListenerBridge.waitUntilEmpty(sc) } finally sc.removeSparkListener(listener)
    jobs.get
  }

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  test("footer-schema read matches spark.read.parquet in schema and values") {
    val (store, root) = newStore()
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("n", IntegerType),
      StructField("x", DoubleType),
      StructField("s", StringType),
      StructField("ts", TimestampType),
      StructField("d", DateType),
      StructField("amount", DecimalType(12, 2)),
      StructField("tags", ArrayType(StringType))))
    val mixed = spark.createDataFrame(java.util.Arrays.asList(
      Row(1L, 7, 1.5, "a", java.sql.Timestamp.valueOf("2021-01-05 10:00:00.123456"),
        java.sql.Date.valueOf("2021-01-05"), new java.math.BigDecimal("12.34"), Seq("x", "y")),
      Row(2L, null, -0.25, null, null, null, null, null),
      Row(3L, -1, Double.NaN, "ü", java.sql.Timestamp.valueOf("1999-12-31 23:59:59"),
        java.sql.Date.valueOf("1999-12-31"), new java.math.BigDecimal("-0.01"), Seq.empty[String])),
      schema)
    store.publish(mixed, "m")
    val dir = s"$root/m"
    val inferred = spark.read.parquet(dir)
    assert(store.read("m").schema === inferred.schema)
    assert(rows(store.read("m")) === rows(inferred))
    assert(rows(store.read("m")).size === 3)

    // the timestamp column really is INT96 on disk (the session default)
    val part = Files.list(java.nio.file.Paths.get(dir)).toArray
      .map(_.toString).filter(_.endsWith(".parquet")).head
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(
      new Path(part), spark.sparkContext.hadoopConfiguration))
    try {
      val onDisk = reader.getFileMetaData.getSchema
      assert(onDisk.getType(onDisk.getFieldIndex("ts")).asPrimitiveType
        .getPrimitiveTypeName === PrimitiveTypeName.INT96)
    } finally reader.close()

    // an empty model keeps its schema through the footer too
    store.publish(mixed.limit(0), "empty", _ => ())
    val emptyInferred = spark.read.parquet(s"$root/empty")
    assert(store.read("empty").schema === emptyInferred.schema)
    assert(store.read("empty").count() === 0)
  }

  test("a directory without Spark's footer schema falls back to inference") {
    val (store, root) = newStore()
    val schema = MessageTypeParser.parseMessageType(
      "message m { required int64 id; optional binary name (UTF8); optional double x; }")
    val writer = ExampleParquetWriter.builder(new Path(s"$root/plain/part-00000.parquet"))
      .withType(schema).withConf(spark.sparkContext.hadoopConfiguration).build()
    val groups = new SimpleGroupFactory(schema)
    try {
      writer.write(groups.newGroup().append("id", 1L).append("name", "one").append("x", 0.5))
      writer.write(groups.newGroup().append("id", 2L))
    } finally writer.close()

    // the fallback is plain inference, which is the one job a read can launch
    var viaStore: DataFrame = null
    assert(jobsIn { viaStore = store.read("plain") } === 1)
    val inferred = spark.read.parquet(s"$root/plain")
    assert(viaStore.schema === inferred.schema)
    assert(rows(viaStore) === rows(inferred))
  }

  test("job counts: a read launches none, the key gate at most two") {
    val (store, _) = newStore()
    store.publish(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v"), "m")
    var model: DataFrame = null
    assert(jobsIn { model = store.read("m") } === 0)
    assert(jobsIn(StateStore.requireUniqueKey("k")(model)) <= 2)
  }

  test("key gate failure names the key and duplicate count; the old model survives") {
    val (store, _) = newStore()
    val gate = StateStore.requireUniqueKey("k")
    store.publish(Seq((1, "a"), (2, "b")).toDF("k", "v"), "m", gate)
    val err = intercept[IllegalArgumentException] {
      store.publish(Seq((1, "a"), (1, "b"), (2, "c"), (2, "d"), (3, "e")).toDF("k", "v"),
        "m", gate)
    }
    assert(err.getMessage.contains("primary key k has 2 duplicated values"))
    assert(rows(store.read("m")) === Seq("[1,a]", "[2,b]"))
  }

  test("a model left only at its retirement path is rolled back by exists and read") {
    val (store, root) = newStore()
    // what a crash between publish's two renames leaves: _old_m, no m
    Seq((1, "a"), (2, "b")).toDF("k", "v").write.parquet(s"$root/_old_m")
    assert(store.exists("m"))
    assert(rows(store.read("m")) === Seq("[1,a]", "[2,b]"))
    assert(!Files.exists(java.nio.file.Paths.get(s"$root/_old_m")))

    Seq((3, "c")).toDF("k", "v").write.parquet(s"$root/_old_r")
    assert(rows(store.read("r")) === Seq("[3,c]"))
    assert(!store.exists("nope"))
  }
}
