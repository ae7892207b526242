package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable.{ArrayBuffer, LinkedHashMap}
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{SparkEntry, Tables}
import graft.core.{Datafile, GDataset}

/** One benchmark run of one workload, driven from outside graft through
  * its public entry points: `SparkEntry.queries`, `Tables.t`,
  * `core.Datafile`, `GDataset.writeByGroups` and the SQL-registered
  * `graft.plans` kernels.
  *
  * Phases: set-up (three fresh sessions that each load every input
  * table through Tables.t, then the warm passes, the last of which
  * writes every query's output for the output check), timed passes for
  * `--seconds`, and a heap reading after a full GC. A traced run makes
  * its timed passes in pairs of one untraced and one traced pass (with
  * listeners and spans on), alternating which comes first, then runs
  * the Tables.t and kernel micro-benchmarks. The raw record goes to
  * `--result` as JSON; run.py turns it into the metrics.
  */
object Main {
  final case class Args(
      workload: String, seed: Long, seconds: Double, trace: Boolean,
      data: String, work: String, result: String)

  private def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      m("data"), m("work"), m("result"))
  }

  def session(): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors().toString
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      // keep the status store's job/stage history short, so the heap
      // reading after the timed passes does not grow with their count
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "100")
      .config("spark.sql.ui.retainedExecutions", "20")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def dirBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.map(dirBytes).sum
    else if (f.getName.startsWith(".") || f.getName.startsWith("_")) 0L // crc, _SUCCESS
    else f.length

  private def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }

  def noop(df: DataFrame): Unit = df.write.mode("overwrite").format("noop").save()

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val items = Workloads(a.workload)
    val runStart = System.nanoTime()
    val mainStartMs = System.currentTimeMillis()
    new File(a.work).mkdirs()

    // set-up rounds: a fresh session that loads (reads the schema of)
    // every input table
    var spark: SparkSession = null
    val rounds = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      if (spark != null) spark.stop()
      spark = session()
      org.apache.logging.log4j.core.config.Configurator.setLevel(
        "org.apache.spark.sql.execution.window", org.apache.logging.log4j.Level.ERROR)
      Workloads.InputTables.foreach(t => Tables.t(spark, a.data, t))
      secs(t0)
    }

    val errors = LinkedHashMap.empty[String, String]
    val checks = LinkedHashMap.empty[String, String]
    val ctx = new Ctx(spark, a)

    // untimed warm passes; the last one is also the output-check pass
    val warm0 = System.nanoTime()
    for (p <- 1 to Workloads.WarmPasses) {
      new Random(a.seed * 7919 - p).shuffle(items).foreach { item =>
        try ctx.run(item, check = p == Workloads.WarmPasses, checks = checks)
        catch {
          case e: Throwable =>
            errors.getOrElseUpdate(item, s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300))
        }
      }
    }
    val warmS = secs(warm0)

    type Pass = (Double, Seq[(String, Double)])
    // one whole pass, in the order seed and pass number give
    def pass(p: Int, traced: Option[Tracing]): Pass = {
      val order = new Random(a.seed * 7919 + p).shuffle(items)
      val pass0 = System.nanoTime()
      val samples = order.map { item =>
        val q0 = System.nanoTime()
        try traced match {
          case None => ctx.run(item)
          case Some(tr) => tr.run(item, p)
        } catch {
          case e: Throwable =>
            errors.getOrElseUpdate(item, s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300))
        }
        item -> secs(q0)
      }
      secs(pass0) -> samples
    }

    val tracing = if (a.trace) Some(new Tracing(ctx)) else None
    // the overhead figure compares single passes, and the first pass of
    // each kind is still 10-25% slower than the next (the tracing code
    // warms up too): a traced run makes one of each and leaves them out
    tracing.foreach { tr => pass(-2, None); tr.withListeners(pass(-1, Some(tr))) }
    ctx.etlBytes = 0
    // JIT compile time during the timed passes: on a small box the
    // compiler threads compete with the query threads, so this is the
    // first thing to read when pass times are unsteady
    val jit = java.lang.management.ManagementFactory.getCompilationMXBean
    val jit0 = jit.getTotalCompilationTime
    val timed = ArrayBuffer.empty[Pass]
    val tracedPasses = ArrayBuffer.empty[Pass]
    val t0 = System.nanoTime()
    // whole passes until the budget is spent; a traced run alternates
    // untraced/traced and traced/untraced pairs, so that the warm-up
    // still going on through the run falls on both sides alike; it
    // reports no tail, so two pairs are enough
    val minTimed = if (a.trace) 2 else Workloads.MinPasses
    while (timed.size < minTimed || secs(t0) < a.seconds) tracing match {
      case None => timed += pass(timed.size, None)
      case Some(tr) =>
        val p = timed.size + tracedPasses.size
        def traced(q: Int) = tracedPasses += tr.withListeners(pass(q, Some(tr)))
        if (timed.size % 2 == 0) { timed += pass(p, None); traced(p + 1) }
        else { traced(p); timed += pass(p + 1, None) }
    }
    val jitS = (jit.getTotalCompilationTime - jit0) / 1000.0
    val etlWritten = ctx.etlBytes

    // Spark's ContextCleaner frees broadcast and shuffle state only after
    // a GC has cleared their driver-side handles, on its own thread: GC
    // and wait until two readings agree before taking the heap figure
    val rt = Runtime.getRuntime
    def usedMb(): Double = {
      System.gc()
      Thread.sleep(250)
      (rt.totalMemory - rt.freeMemory) / 1048576.0
    }
    var prev = usedMb()
    var heapMb = usedMb()
    for (_ <- 1 to 6 if math.abs(prev - heapMb) > 0.01 * heapMb) {
      prev = heapMb
      heapMb = usedMb()
    }

    val fields = ArrayBuffer[(String, String)](
      "workload" -> Json.str(a.workload),
      "seed" -> a.seed.toString,
      "main_start_ms" -> mainStartMs.toString,
      "round_s" -> rounds.map(Json.num).mkString("[", ",", "]"),
      "warm_s" -> Json.num(warmS),
      "items" -> items.map(Json.str).mkString("[", ",", "]"),
      "min_passes" -> Workloads.MinPasses.toString,
      "pass_s" -> timed.map(p => Json.num(p._1)).mkString("[", ",", "]"),
      "samples" -> timed.flatMap(_._2).map { case (q, s) =>
        s"[${Json.str(q)},${Json.num(s)}]" }.mkString("[", ",", "]"),
      "errors" -> Json.obj(errors.toSeq.map { case (k, v) => k -> Json.str(v) }),
      "checks" -> Json.obj(checks.toSeq.map { case (k, v) => k -> Json.str(v) }),
      // the tables the write steps read, and what the steps write per pass
      "input_bytes" -> items.flatMap(Workloads.EtlSource.get)
        .map(t => new File(a.data, s"$t.parquet").length).sum.toString,
      "written_bytes" -> (etlWritten / (timed.size + tracedPasses.size)).toString,
      "heap_retained_mb" -> Json.num(heapMb),
      "jit_compile_s" -> Json.num(jitS))

    tracing.foreach(tr => fields ++= tr.report(timed.map(_._1).toSeq, tracedPasses.map(_._1).toSeq))
    // oracle SQL for the check, restricted to this workload's queries
    new File(a.work, "out").mkdirs()
    Files.writeString(Paths.get(a.work, "out", "oracle_sql.json"), Json.obj(
      items.flatMap(q => SparkEntry.oracleSql.get(q).map(s => q -> Json.str(s)))))
    fields += "run_s" -> Json.num(secs(runStart))
    Files.writeString(Paths.get(a.result), Json.obj(fields.toSeq))
    spark.stop()
  }

  /** What one run executes: the workload's items (queries, or etl
    * steps), checked in the last warm pass and timed afterwards. */
  final class Ctx(val spark: SparkSession, val a: Args) {
    private val outDir = new File(a.work, "out")
    private val etlDir = new File(a.work, "etl")
    var etlBytes = 0L
    /** core-layer split of the last etl step, read by the traced run:
      * time in graft.core writes and loads, and, when a recorder is
      * attached, the Spark counters inside the writes and outside them */
    var coreWriteS = 0.0
    var coreLoadS = 0.0
    var recorder: Option[Recorder] = None
    var writeCounters = Counters()
    var otherCounters = Counters()

    def run(item: String, check: Boolean = false,
            checks: LinkedHashMap[String, String] = null): Unit =
      if (item.startsWith("etl_")) etlStep(item, check, checks)
      else {
        val df = build(item)
        if (check) df.coalesce(1).write.mode("overwrite").parquet(new File(outDir, item).getPath)
        else noop(df)
      }

    /** Per-call split of a query into build (the queries(n) call, with
      * any eager jobs it starts) and exec (the noop sink). */
    def build(item: String): DataFrame = SparkEntry.queries(item)(spark, a.data)

    private def t(name: String): DataFrame = Tables.t(spark, a.data, name)

    private def timedWrite(f: => Unit): Unit = {
      recorder.foreach(r => otherCounters = otherCounters + r.take())
      val t0 = System.nanoTime()
      f
      coreWriteS += secs(t0)
      recorder.foreach(r => writeCounters = writeCounters + r.take())
    }
    private def timedLoad[T](f: => T): T = {
      val t0 = System.nanoTime(); val r = f; coreLoadS += secs(t0); r
    }

    /** The write path: each step clears its own output directory, writes
      * through graft.core, reads the result back and runs a query on it.
      * In the check pass the read-back is compared with the source on
      * row and group counts. */
    def etlStep(step: String, check: Boolean,
                checks: LinkedHashMap[String, String]): Unit = {
      val dir = new File(etlDir, step)
      deleteTree(dir)
      coreWriteS = 0; coreLoadS = 0
      writeCounters = Counters(); otherCounters = Counters()
      def expect(what: String, got: Long, want: Long): Unit =
        if (check && got != want) checks(step) = s"$what: got $got, want $want"
      step match {
        case "etl_csv" =>
          // the reference's CSV round-trip: index ts, id_vars user_id
          val src = t("events")
          val file = Datafile(new File(dir, "events.csv").getPath,
            index = Some("ts"), idVars = Seq("user_id"))
          timedWrite(file.write(GDataset(src, "ts", Seq("user_id"))))
          val ds = timedLoad(file.load(spark)).collect { case Right(d) => d }
            .getOrElse(throw new IllegalStateException("csv round-trip did not load"))
          noop(ds.sort().df)
          val x = GDataset(ds.df.select(col("user_id"),
              (unix_micros(col("ts").cast("timestamp")) / 1e6).as("x"), col("value")),
            "x", Seq("user_id"))
          noop(x.regrid(Workloads.DailyGrid).df)
          if (check) {
            expect("rows", ds.df.count(), src.count())
            expect("users", ds.df.select("user_id").distinct().count(),
              src.select("user_id").distinct().count())
          }
        case "etl_parquet" =>
          val src = t("lineitem")
          val keys = Seq("l_returnflag", "l_linestatus")
          val file = Datafile(new File(dir, "lineitem").getPath, format = "parquet",
            partitionBy = keys)
          timedWrite(file.write(src))
          val back = timedLoad(file.load(spark)).collect { case Left(d) => d }
            .getOrElse(throw new IllegalStateException("parquet round-trip did not load"))
          val pruned = back.filter(col("l_returnflag") === "R")
            .groupBy("l_linestatus").agg(count(lit(1)).as("n"), sum("l_quantity").as("q"))
          if (check) {
            val got = pruned.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
            val want = src.filter(col("l_returnflag") === "R").groupBy("l_linestatus")
              .count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
            expect("rows", back.count(), src.count())
            expect("partitions", back.select(keys.map(col): _*).distinct().count(),
              src.select(keys.map(col): _*).distinct().count())
            if (got != want) checks(step) = s"pruned aggregate: got $got, want $want"
          } else noop(pruned)
        case "etl_groups" =>
          // serial one-job-per-group fan-out, then each group read back
          val src = t("documents")
          var written: Map[Seq[Any], String] = Map.empty
          timedWrite { written = GDataset(src, "doc_id").writeByGroups(Seq("lang"), dir.getPath) }
          val counts = timedLoad(written.map { case (k, p) => k -> spark.read.parquet(p).count() })
          if (check) {
            expect("groups", counts.size, src.select("lang").distinct().count())
            expect("rows", counts.values.sum, src.count())
          }
      }
      etlBytes += dirBytes(dir)
    }
  }
}
