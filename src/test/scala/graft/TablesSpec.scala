package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, GraftShim}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampNTZType
import graft.streaming.EventStreams

/** `Tables.t` resolves each table's schema from the parquet footer on
  * the driver: it must read exactly what Spark's inferring read reads,
  * start no Spark job, and normalize both `events.ts` layouts alike. */
class TablesSpec extends SparkSpec {

  private val AllTables = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Order-independent content of a frame: its sorted per-row hashes. */
  private def rowHashes(df: DataFrame): Seq[Long] =
    df.select(xxhash64(df.columns.map(col).toSeq: _*)).collect().map(_.getLong(0)).sorted.toSeq

  /** Jobs started while `body` runs, counted on the listener bus. */
  private def jobsDuring[A](body: => A): (A, Int) = {
    GraftShim.drainListenerBus(spark)
    val jobs = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val a = body
      GraftShim.drainListenerBus(spark)
      (a, jobs.get())
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("footer schema + rows equal Spark's inferring read, for every sf0.001 table") {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    AllTables.foreach { name =>
      val got = Tables.t(spark, Sf, name)
      val inferred = Tables.normalize(name, spark.read.parquet(s"$Sf/$name.parquet"))
      assert(got.schema == inferred.schema, s"$name schema")
      assert(rowHashes(got) == rowHashes(inferred), s"$name rows")
    }
  }

  test("Tables.t and building the surface queries start no Spark job") {
    val (_, loadJobs) = jobsDuring(AllTables.foreach(n => Tables.t(spark, Sf, n).schema))
    assert(loadJobs == 0, s"Tables.t started $loadJobs jobs")
    val surface = Seq("q_concat", "q_sort", "q_coord", "q_asof_join", "q_regrid",
      "q_upsample", "q_dft", "q1_agg", "q_quantile", "q_qcut")
    surface.foreach { q =>
      val (_, buildJobs) = jobsDuring(SparkEntry.queries(q)(spark, Sf))
      assert(buildJobs == 0, s"building $q started $buildJobs jobs")
    }
  }

  /** One events.parquet per `ts` layout, same instants: `unit` is the
    * parquet TIMESTAMP unit, `tsOf` the stored value for an ns instant. */
  private def writeEvents(dir: String, unit: String, nanos: Seq[Option[Long]],
      tsOf: Long => Long): Unit = {
    val schema = MessageTypeParser.parseMessageType(
      s"""message events {
         |  optional int64 event_id;
         |  optional int64 ts (TIMESTAMP($unit,false));
         |  optional int64 user_id;
         |  optional binary event_type (STRING);
         |  optional double value;
         |  optional binary props (STRING);
         |}""".stripMargin)
    val conf = new Configuration()
    val writer = ExampleParquetWriter
      .builder(HadoopOutputFile.fromPath(new Path(s"$dir/events.parquet"), conf))
      .withType(schema).withConf(conf).build()
    val rows = new SimpleGroupFactory(schema)
    try nanos.zipWithIndex.foreach { case (ns, i) =>
      val g = rows.newGroup().append("event_id", i.toLong)
      ns.foreach(v => g.append("ts", tsOf(v)))
      writer.write(g.append("user_id", (i % 3).toLong).append("event_type", "click")
        .append("value", i * 1.5).append("props", "{}"))
    } finally writer.close()
  }

  test("TIMESTAMP(NANOS) events read to the same µs values as the micros layout") {
    // ns instants with sub-µs digits (truncated, as DuckDB does) and a null
    val nanos = Seq(Some(1700000000123456789L), Some(1700000000123456001L),
      Some(1700003600000000999L), None, Some(86400000000000L))
    val expectMicros = nanos.map(_.map(_ / 1000))
    val base = java.nio.file.Files.createTempDirectory("graft_tables").toString
    val (nsDir, usDir) = (s"$base/ns", s"$base/us")
    writeEvents(nsDir, "NANOS", nanos, identity)
    writeEvents(usDir, "MICROS", nanos, _ / 1000)

    def micros(df: DataFrame, ts: org.apache.spark.sql.Column): Seq[Option[Long]] =
      df.select(col("event_id"), unix_micros(ts)).collect()
        .sortBy(_.getLong(0)).map(r => Option(r.get(1)).map(_.asInstanceOf[Long])).toSeq

    def streamed(dir: String, sink: String): Seq[Option[Long]] = {
      val q = EventStreams.eventsStream(spark, dir)
        .writeStream.format("memory").queryName(sink).start()
      try {
        q.processAllAvailable()
        micros(spark.table(sink), col("ts"))
      } finally q.stop()
    }

    try {
      Seq(nsDir -> "tables_ts_ns", usDir -> "tables_ts_us").foreach { case (dir, sink) =>
        val events = Tables.t(spark, dir, "events")
        assert(events.schema("ts").dataType == TimestampNTZType, dir)
        // NTZ wall clock read as a UTC instant (SparkSpec pins UTC)
        assert(micros(events, col("ts").cast("timestamp")) == expectMicros, s"Tables.t $dir")
        assert(streamed(dir, sink) == expectMicros, s"eventsStream $dir")
      }
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
  }
}
