package graft

import org.apache.hadoop.fs.Path
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{Column, DataFrame, GraftShim, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{
  ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DateType, LongType, StructType, TimestampNTZType, TimestampType}

/** Parquet table loader for the driver-generated TPC-H-ish testdata.
  *
  * Schema resolution: each table is one parquet file, and its schema is
  * read from that file's footer on the driver — Spark's own footer
  * reader (row groups skipped) and Spark's own parquet→Spark schema
  * converter, built from the session conf — and handed to the reader
  * as an explicit schema. A bare `read.parquet` infers the same schema
  * but runs it as a one-task Spark job (Spark 4.1 merges footers
  * through `parallelize(...).collect()` even for one file), which cost
  * every `t` call ~60 ms on a 4-core VM and every query built on it
  * that much latency. The footer is read on every call, never cached,
  * so a rewritten file never serves a stale schema.
  *
  * `events.ts` has been written by different driver generations as
  * TIMESTAMP(NANOS) (which Spark's vectorized reader only accepts as a
  * raw long under legacy nanosAsLong) and as TIMESTAMP(MICROS) (read
  * natively as TIMESTAMP_NTZ). nanosAsLong is set before the footer is
  * converted, so the footer schema and the read agree on the ns layout.
  * Either physical layout is normalized to µs TIMESTAMP_NTZ — the ns
  * path truncates ns→µs exactly like DuckDB, so oracle comparisons agree
  * regardless of which generation wrote the file.
  *
  * `orders.o_orderdate` / `lineitem.l_shipdate` are semantically DATE
  * but some driver generations write them as timestamp[us]. Normalize
  * to DateType once at scan — otherwise every dt-family consumer pays
  * a per-row timestamp→date conversion (the r7 bench showed 4–8×
  * regressions on q_dt_offset/q_dt_arith from exactly this).
  */
object Tables {
  /** Instant (LTZ) → UTC wall-clock NTZ, independent of the session
    * time zone: the LTZ→NTZ cast renders in the session tz, so convert
    * that wall clock back from the session tz to UTC. A bare NTZ cast
    * is only correct when the session tz happens to be UTC.
    */
  private def ltzToUtcNtz(c: Column): Column =
    convert_timezone(current_timezone(), lit("UTC"), c.cast(TimestampNTZType))

  /** Normalize a semantically-DATE column to DateType whatever physical
    * type the generation wrote (date32 → no-op; timestamp → date of the
    * UTC wall clock).
    */
  private def normDate(df: DataFrame, name: String): DataFrame =
    df.schema.find(_.name == name).map(_.dataType) match {
      case Some(DateType) | None        => df
      case Some(TimestampNTZType)       => df.withColumn(name, col(name).cast(DateType))
      case Some(TimestampType)          => df.withColumn(name, ltzToUtcNtz(col(name)).cast(DateType))
      case Some(other) =>
        throw new IllegalStateException(s"unexpected $name type: $other")
    }

  /** The Spark schema of one parquet file, read from its footer on the
    * driver with the converter Spark's schema inference uses, so it is
    * the schema a `read.parquet` of that file would infer — without the
    * inference job. */
  def footerSchema(s: SparkSession, path: String): StructType = {
    val p = new Path(path)
    val footer = ParquetFooterReader.readFooter(
      HadoopInputFile.fromPath(p, GraftShim.hadoopConf(s)),
      ParquetMetadataConverter.SKIP_ROW_GROUPS)
    ParquetFileFormat.readSchemaFromFooter(new Footer(p, footer),
      new ParquetToSparkSchemaConverter(GraftShim.sqlConf(s)))
  }

  def t(s: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    if (name == "events") s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalize(name, s.read.schema(footerSchema(s, path)).parquet(path))
  }

  /** Per-table normalization of a raw read (see the object doc). */
  private[graft] def normalize(name: String, raw: DataFrame): DataFrame = name match {
    case "events" =>
      raw.schema("ts").dataType match {
        case LongType => // TIMESTAMP(NANOS) read as ns-since-epoch long
          raw.withColumn("ts", expr("cast(timestamp_micros(ts div 1000) as timestamp_ntz)"))
        case TimestampNTZType => raw
        case TimestampType => // µs instants: route through UTC, tz-proof
          raw.withColumn("ts", ltzToUtcNtz(col("ts")))
        case other =>
          throw new IllegalStateException(s"unexpected events.ts type: $other")
      }
    case "orders"   => normDate(raw, "o_orderdate")
    case "lineitem" => normDate(raw, "l_shipdate")
    case _          => raw
  }
}
