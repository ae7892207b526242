package perfbench

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

object Workloads {
  /** Untimed warm passes before the timed ones; the last is the
    * output-check pass. */
  val WarmPasses = 2

  /** Timed passes a run makes at least, whatever `--seconds` says, so
    * that every workload has enough (item, pass) samples for a tail
    * percentile above the median. */
  val MinPasses = 4

  /** The input tables (graft's sf0.001 test set); every workload loads
    * all of them. */
  val InputTables: Seq[String] = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** The table each write-path step reads; `write_amp` is the bytes the
    * steps write over the bytes of these tables. */
  val EtlSource: Map[String, String] = Map(
    "etl_csv" -> "events", "etl_parquet" -> "lineitem", "etl_groups" -> "documents")

  /** The polars-dataset surface: the reference's Dataset queries (concat,
    * sort, coord, as-of join, regrid, upsample, dft), the relational
    * queries a reference user runs next to them, and the Datafile write
    * and load round-trips. q_join_agg is left out: its half-cent
    * rounding can disagree with its DuckDB oracle on revenue ties. */
  val Surface: Seq[String] = Seq(
    "q_concat", "q_sort", "q_coord", "q_asof_join", "q_regrid", "q_upsample", "q_dft",
    "q1_agg", "q_quantile", "q_qcut",
    "etl_csv", "etl_parquet")

  /** The curation operator layer: exact, minhash and md5-shingle dedup,
    * a connected-components consumer, the trigram LM, the quality
    * classifier, dsir, tfidf, the composed gate -> dedup -> budget spine,
    * and the per-language writeByGroups fan-out a curated corpus is
    * stored with. With ten items the median sample falls between the
    * minhash and tfidf samples, which take about the same time, rather
    * than at the edge of a gap to the slower dsir ones. */
  val Curate: Seq[String] = Seq(
    "q_dedup_exact", "q_dedup_minhash", "q_dedup_substring_exact", "q_dedup_keep_best",
    "q_lm_trigram", "q_quality_model", "q_dsir_weights", "q_tfidf", "q_curate", "etl_groups")

  /** The items one pass of a workload runs, before the seed permutes
    * them. An item is a query name from `SparkEntry.queries`, or a
    * write-path step (`etl_*`, see [[Main.Ctx.etlStep]]). */
  def apply(name: String): Seq[String] = name match {
    case "surface" => Surface
    case "curate" => Curate
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** Daily grid over the events window (2024-01-02..29), epoch seconds. */
  val DailyGrid: Array[Double] = Array.tabulate(28)(d => 1704153600.0 + d * 86400.0)

  /** graft.plans kernels the curate queries use, each as a column over
    * `text`, with the built-in chain it replaced where a spec pins that
    * both give the same output. */
  final case class Kernel(name: String, native: Column, builtin: Option[Column])

  def kernels: Seq[Kernel] = {
    val text = col("text")
    val toks = graft.functions.TextFunctions.tokens(text)
    val md5Hof = transform(
      sequence(lit(1), greatest(size(toks) - 4, lit(0))),
      i => unhex(md5(concat_ws(" ", slice(toks, i, lit(5))))))
    Seq(
      Kernel("SimHash64", expr("graft_simhash(text)"),
        Some(graft.functions.TextFunctions.simhash(text))),
      Kernel("Md5Shingles", graft.plans.TextHashColumns.md5Shingles(text, 5), Some(md5Hof)),
      Kernel("MinHashSignature", expr("graft_minhash(text, 3, 16)"), None),
      Kernel("SimHashMd5", expr("graft_simhash_md5(text)"), None),
      Kernel("MinHashMd5Key", expr("graft_minhash_md5_key(text, 3)"), None),
      Kernel("ShingleHashes", expr("graft_shingle_hashes(text, 3)"), None),
      Kernel("PositionalShingles", expr("graft_positional_shingles(text, 3)"), None),
      Kernel("LexicalStats", expr("graft_lexical_stats(text)"), None),
      Kernel("RepetitionStats", graft.plans.TextHashColumns.repetitionStats(text), None),
      Kernel("UnicodeNormalize", expr("graft_nfc(text)"), None),
      Kernel("StripAccents", expr("graft_strip_accents(text)"), None),
      Kernel("FixMojibake", expr("graft_fix_mojibake(text)"), None),
      Kernel("DeflateRatio", expr("graft_compress_ratio(text, 6)"), None),
      Kernel("ContainsAny", expr("graft_contains_any(text, 'spark merge', 'dup')"), None))
  }
}
