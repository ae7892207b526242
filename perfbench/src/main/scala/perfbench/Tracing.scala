package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.Tables

import Main.{median, secs}

/** The traced passes of a traced run: runs items with the [[Recorder]]
  * attached and a span around every call, keeps one row per query
  * sample, and adds the Tables.t and kernel micro-benchmarks. */
final class Tracing(ctx: Main.Ctx) {
  private val spark = ctx.spark
  private val rec = new Recorder(spark)
  private val spans = new Spans

  case class QueryRow(item: String, pass: Int, buildS: Double, execS: Double,
                       build: Counters, exec: Counters, coreWrite: Counters,
                       coreWriteS: Double, coreLoadS: Double, writtenMb: Double) {
    def all: Counters = build + exec + coreWrite
    def wallS: Double = buildS + execS
  }
  private val rows = ArrayBuffer.empty[QueryRow]

  def withListeners[T](body: => T): T = {
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    spark.sparkContext.addSparkListener(rec)
    classic.listenerManager.register(rec)
    rec.take()
    try body
    finally {
      rec.take()
      classic.listenerManager.unregister(rec)
      spark.sparkContext.removeSparkListener(rec)
    }
  }

  def run(item: String, pass: Int): Unit = spans(s"$item#$pass") { qid =>
    rec.take()
    if (item.startsWith("etl_")) {
      ctx.recorder = Some(rec)
      val before = ctx.etlBytes
      val t0 = System.nanoTime()
      try spans("step", qid)(_ => ctx.run(item))
      finally {
        val s = secs(t0)
        val other = ctx.otherCounters + rec.take()
        rows += QueryRow(item, pass, 0.0, s, Counters(), other, ctx.writeCounters,
          ctx.coreWriteS, ctx.coreLoadS, (ctx.etlBytes - before) / 1048576.0)
        ctx.recorder = None
      }
    } else {
      val t0 = System.nanoTime()
      val df = spans("build", qid)(_ => ctx.build(item))
      val buildS = secs(t0)
      val build = rec.take()
      val t1 = System.nanoTime()
      var execS = 0.0
      try spans("exec", qid)(_ => Main.noop(df))
      finally {
        execS = secs(t1)
        rows += QueryRow(item, pass, buildS, execS, build, rec.take(), Counters(), 0, 0, 0)
      }
    }
  }

  /** Direct Tables.t calls: median of three calls per input table. */
  private def tableLoadS(): Double = Workloads.InputTables.map { t =>
    val xs = (1 to 3).map { _ =>
      spans(s"Tables.t:$t") { _ =>
        val t0 = System.nanoTime()
        Tables.t(spark, ctx.a.data, t)
        secs(t0)
      }
    }
    xs.sorted.apply(1)
  }.sum

  /** Per-row cost of each kernel over a fixed in-memory column of
    * documents text, one partition so the figure is single-core: the
    * median time of a noop pass over the column with the kernel, minus
    * the same pass without it, per row. The built-in chains are ~40x
    * slower, so they run over a tenth of the rows. */
  private def kernelNs(errors: ArrayBuffer[String]): Seq[(String, Double)] = {
    val texts = Tables.t(spark, ctx.a.data, "documents").select("text").collect().map(_.getString(0))
    val schema = StructType(Seq(StructField("text", StringType)))
    def column(n: Int) = {
      val rowsIn = Seq.tabulate(n)(i => Row(texts(i % texts.length)))
      val df = spark.createDataFrame(spark.sparkContext.parallelize(rowsIn, 1), schema).cache()
      df.count()
      df
    }
    val big = column(4000)
    val small = column(400)
    def passS(in: DataFrame, name: String, c: Column): Double = spans(s"kernel:$name") { _ =>
      val df = in.select(c.as("k"))
      Main.noop(df)
      val xs = (1 to 3).map { _ =>
        val t0 = System.nanoTime(); Main.noop(df); secs(t0)
      }
      xs.sorted.apply(1)
    }
    def nsPerRow(in: DataFrame, name: String, c: Column): Double = {
      val n = in.count()
      (passS(in, name, c) - passS(in, "baseline", col("text"))) * 1e9 / n
    }
    val out = ArrayBuffer.empty[(String, Double)]
    Workloads.kernels.foreach { k =>
      out += s"plans.kernel.${k.name}.ns_per_row" -> nsPerRow(big, k.name, k.native)
      k.builtin.foreach { b =>
        out += s"plans.kernel.${k.name}.builtin_ns_per_row" -> nsPerRow(small, k.name + ":builtin", b)
        val diff = small.filter(not(k.native <=> b)).count()
        if (diff != 0) errors += s"kernel ${k.name}: $diff rows differ from the built-in chain"
      }
    }
    big.unpersist(blocking = true)
    small.unpersist(blocking = true)
    out.toSeq
  }

  /** Fields for the raw record: per-layer metrics (per pass, median over
    * the traced passes), the per-query rows and the spans. */
  def report(untracedPassS: Seq[Double], tracedPassS: Seq[Double]): Seq[(String, String)] = {
    val storageMb = spark.sparkContext.getRDDStorageInfo
      .map(i => i.memSize + i.diskSize).sum / 1048576.0
    val loadS = tableLoadS()
    val kernelErrors = ArrayBuffer.empty[String]
    val kernels = kernelNs(kernelErrors)
    val byPass = rows.toSeq.filter(_.pass >= 0).groupBy(_.pass).values.toSeq
    def perPass(f: Seq[QueryRow] => Double): Double = median(byPass.map(f))
    def sumC(f: Counters => Double)(rs: Seq[QueryRow]): Double = rs.map(r => f(r.all)).sum
    val layer = Seq(
      "queries.build_s" -> perPass(_.map(_.buildS).sum),
      "queries.build_jobs" -> perPass(_.map(_.build.jobs.toDouble).sum),
      "tables.schema_jobs" -> perPass(sumC(_.schemaJobs)),
      "tables.load_s" -> loadS,
      "tables.scan_rows" -> perPass(sumC(_.scanRows.toDouble)),
      "tables.scan_mb" -> perPass(sumC(_.scanMb)),
      "plans.optimize_s" -> perPass(sumC(_.optimizeS)),
      "plans.physical_s" -> perPass(sumC(_.physicalS)),
      "core.write_s" -> perPass(_.map(_.coreWriteS).sum),
      "core.load_s" -> perPass(_.map(_.coreLoadS).sum),
      "core.write_jobs" -> perPass(_.map(_.coreWrite.jobs.toDouble).sum),
      "core.bytes_written_mb" -> perPass(_.map(_.writtenMb).sum),
      "spark.jobs" -> perPass(sumC(_.jobs)),
      "spark.stages" -> perPass(sumC(_.stages)),
      "spark.tasks" -> perPass(sumC(_.tasks.toDouble)),
      "spark.job_s" -> perPass(sumC(_.jobS)),
      "spark.outside_job_s" -> perPass(_.map(r => math.max(0.0, r.wallS - r.all.jobS)).sum),
      "spark.task_s" -> perPass(sumC(_.taskS)),
      "spark.parallelism" -> perPass(rs => sumC(_.taskS)(rs) / math.max(1e-9, sumC(_.jobS)(rs))),
      "spark.single_task_stage_frac" ->
        perPass(rs => sumC(_.singleTaskStages)(rs) / math.max(1.0, sumC(_.stages)(rs))),
      "spark.gc_s" -> perPass(sumC(_.gcS)),
      "spark.shuffle_write_mb" -> perPass(sumC(_.shuffleWriteMb)),
      "spark.shuffle_read_mb" -> perPass(sumC(_.shuffleReadMb)),
      "spark.spill_mb" -> perPass(sumC(_.spillMb)),
      "spark.storage_mb" -> storageMb,
      "trace.overhead_frac" -> (median(tracedPassS) / median(untracedPassS) - 1)
    ) ++ kernels
    val queryRows = rows.map { r =>
      val c = r.all
      Json.obj(Seq(
        "query" -> Json.str(r.item), "pass" -> r.pass.toString,
        "build_s" -> Json.num(r.buildS), "exec_s" -> Json.num(r.execS),
        "build_jobs" -> r.build.jobs.toString, "jobs" -> c.jobs.toString,
        "schema_jobs" -> c.schemaJobs.toString, "stages" -> c.stages.toString,
        "tasks" -> c.tasks.toString, "task_s" -> Json.num(c.taskS),
        "job_s" -> Json.num(c.jobS),
        "outside_job_s" -> Json.num(math.max(0.0, r.wallS - c.jobS)),
        "shuffle_write_mb" -> Json.num(c.shuffleWriteMb),
        "shuffle_read_mb" -> Json.num(c.shuffleReadMb),
        "spill_mb" -> Json.num(c.spillMb), "scan_rows" -> c.scanRows.toString,
        "scan_mb" -> Json.num(c.scanMb), "optimize_s" -> Json.num(c.optimizeS),
        "physical_s" -> Json.num(c.physicalS)))
    }
    Seq(
      "traced_passes" -> tracedPassS.size.toString,
      "traced_pass_s" -> tracedPassS.map(Json.num).mkString("[", ",", "]"),
      "per_layer" -> Json.obj(layer.map { case (k, v) => k -> Json.num(v) }),
      "kernel_checks" -> Workloads.kernels.count(_.builtin.nonEmpty).toString,
      "kernel_errors" -> kernelErrors.map(Json.str).mkString("[", ",", "]"),
      "query_rows" -> queryRows.mkString("[", ",\n", "]"),
      "spans" -> spans.json)
  }
}
