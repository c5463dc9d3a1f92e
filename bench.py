"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Each query runs $SPARK_GRAFT_BENCH_N times (default 3) round-robin —
suite pass 1 for every query, then pass 2, ... — and the reported
per-query number is the MEDIAN, so a stray GC pause or page-cache miss
in one pass can't masquerade as a regression (the shared-harness noise
band was measured at ±20% with single-shot timings).

Queries are forced through the NOOP SINK (``write.format("noop")``),
never ``.count()``: Catalyst prunes columns a count does not need, so
counting a projection-style query measures a skeleton of the real
work (measured round 6: ``simhash`` 0.7 s counted vs 13.5 s fully
evaluated — the count plan dropped the entire vote computation). The
noop sink demands every output column and discards rows JVM-side,
which is the standard way to benchmark Spark plans honestly.

Two more honesty rules (round 8):

- **Cold cache per measurement.** Each query runs in its own
  ``cache_scope()``, which releases every persist the query made, and
  the catalog cache is cleared after it: Spark's CacheManager matches
  persisted plans by CANONICALIZED form, so a query that persists
  internally silently reuses the PREVIOUS pass's cache and its
  per-pass times form a staircase whose median measures N, not the
  code (measured: ``perplexity_buckets`` 3.7 → 1.8 → 0.8 s across
  three passes of one run).
- **Host-speed probe per pass.** A fixed synthetic workload runs once
  per round-robin pass; its per-pass times ride the JSON
  (``calibration_per_pass``) and the median-vs-baseline ratio is
  ``host_factor`` — the instrument that separates co-tenancy noise
  from real regressions (the shared host swings ±30-60% under load).

One more (protocol v3, round 10):

- **Untimed warm pass.** Every tracked query runs once before the
  timed passes: first execution of a lineage pays one-time costs
  (Janino compile, C2 JIT, per-Python-worker import + FFT-plan warmup
  on codec paths) that decay over SEVERAL passes — audio_near_dup
  measured 7.2 → 1.95 → 1.2 s across eight — so an N=3 median
  straddles the decay while an N=5 baseline median sits in the warm
  tail, manufacturing phantom 1.3-1.6× "regressions" (the recurring
  r8/r9 audio_near_dup flag). With the warm pass the median measures
  steady state at any N. ``BENCH_BASELINE.json`` was re-recorded
  under v3 (PERFORMANCE.md documents the per-query deltas).

Prints ONE JSON line:
  {"metric": "...", "value": total_sec, "unit": "sec",
   "queries": {name: sec, ...}, "sf": 0.1, "n": 3}

This module is also the one timing harness of ``tools/``: every tool
that times queries, builds a session, loads the registry or reads
stage metrics calls ``registry()``, ``session()``, ``force()`` and
``new_stages()`` below instead of keeping its own copy
(``tests/test_surface.py`` pins it). ``tools/bench_gate.py`` is the
one process that runs this script.
"""

from __future__ import annotations

import contextlib
import importlib.util
import json
import os
import statistics
import sys
import time
import urllib.error
import urllib.request

ROOT = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, ROOT)

#: core count of every harness session unless a caller passes its own
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")
#: session conf that serves the status REST API ``new_stages`` reads
STAGE_UI = {"spark.ui.enabled": "true", "spark.ui.port": "0"}
#: seconds the status store gets to register a finished job's stages
SETTLE_S = 0.5

HEADLINE = [
    "pricing_summary",      # grouped decimal aggregation (TPC-H Q1 shape)
    "star_join",            # broadcast star join
    "range_join",           # equi + range residual
    "keep_latest_antijoin", # group-wise max + anti-join delete
    "union_distinct",       # union dedup
    "stale_cleanup",        # calendar-cleanup composite
    "distinct_dates",       # distinct projection
    "cell_grammar",         # scalar expression kit
    "minhash_near_dup_pairs",  # MinHash LSH dedup
    "simhash",              # SimHash sketches
    "topk_cosine",          # brute-force ANN baseline
    "ann_lsh_topk",         # LSH ANN scale path
    "sessionize_batch",     # window-function sessionization
    "text_stats",           # text-analysis kit
    "clean_corpus",         # corpus-cleaning composite
    "embedding_near_dup",   # sign-bit-bucketed embedding dedup scale path
    "winnow_fingerprint",   # rolling-hash winnowing fingerprints
    "repetition_stats",     # Gopher-style duplicate/top n-gram fractions
    "decontaminate",        # benchmark n-gram contamination check
    "pii_scan",             # PII detect + redact projection
    "chunk_tokens",         # per-doc context-window chunking
    "pack_sequences",       # concat-and-chunk sequence packing
    "asof_join",            # union-merge as-of join (1 shuffle, no amplification)
    "repeated_spans",       # sliding-window exact substring dedup
    "time_rollup",          # hierarchical minute/hour/day re-aggregation
    "url_dedup",            # zero-shuffle URL canonicalization + keep-first
    "domain_quota",         # per-host top-N window
    "quantize_embeddings",  # int8 scalar quantization projection
    "incremental_dedup",    # batch-vs-corpus LSH index probe
    "corpus_report",        # per-stratum health aggregate
    "lm_perplexity",        # self-trained bigram-LM quality scoring
    "heavy_hitters",        # count-min sketch heavy hitters
    "semantic_dedup",       # SemDeDup intra-cluster cosine pruning
    "wordpiece_encode",     # broadcast-vocab subword tokenization
    "classifier_score",     # hashed linear-model quality inference
    "html_to_text",         # native-expression HTML strip tier
    "paragraph_dedup",      # CCNet corpus-wide paragraph dedup
    "bm25_search",          # Okapi BM25 keyword retrieval
    "topic_summaries",      # IVF-cluster class-TF-IDF topic map
    "split_leakage",        # cross-split near-dup QA gate
    "media_phash_pairs",    # perceptual-hash image dedup (real decode)
    "curate_pipeline",      # end-to-end curation composite (4 operators)
    "cross_modal_pairs",    # text-dup evidence joined to media corpus
    "attribution",          # stream-stream interval join (batch twin)
    "weighted_sample",      # A-ES weighted sampling, per-stratum top-n
    "profile_table",        # single-pass per-column contract panel
    "zorder_key",           # Morton-key layout projection
    "robust_outliers",      # median/MAD ingestion anomaly flags
    "fuzzy_match",          # blocked levenshtein record linkage
    "pagerank",             # 5-iteration link-graph quality prior
    "bpe_train",            # distributed BPE merge learning (6 merges)
    "char_entropy",         # per-doc character-entropy quality signal
    "containment_pairs",    # asymmetric quote/inclusion dedup
    "hybrid_search",        # BM25 + cosine RRF fusion
    "audio_near_dup",       # spectral-hash audio clip detection
    "video_near_dup",       # perceptual video clip detection
    "funnel",               # ordered conversion funnel (3 steps)
    "chunk_overlap",        # stride-overlapping RAG passage windows
    "retention",            # weekly cohort retention matrix
    "correlation",          # single-pass pairwise Pearson panel
    "standardize",          # broadcast-stats z-score scaling
    "histogram",            # grouped equi-width value histogram
    "tfidf_pairs",          # sparse TF-IDF cosine related-doc pairs
    "simhash_pairs",        # pigeonhole-banded simhash near-dup pairs
    "bpe_encode",           # BPE inference: chained replaces + rejoin
    "bloom_semi_join",      # explicit bloom bitmap semi-join reduction
    "pq_adc_topk",          # product-quantization ADC ranking
    "hard_negatives",       # ANN-candidate mining minus known positives
    "gopher_gate",          # full Gopher rule battery, zero-shuffle
    "dsir_select",          # DSIR bucket models + Gumbel-top-k
    "temperature_mixture",  # tau-scaled mixture shares (one agg)
    "random_projection",    # JL sign-matrix 64->16 projection
    "link_extract",         # href extraction + canonicalization
    "semantic_decontaminate",  # embedding-tier eval-set contamination
    "retrieval_metrics",    # nDCG/recall/MRR panel on bounded relations
    "distribution_drift",   # PSI/KL per-stratum drift monitor
    "kn_perplexity",        # interpolated Kneser-Ney LM tier
    "unigram_vocab",        # SentencePiece-style seed vocabulary
    "unigram_encode",       # Viterbi subword DP on the distinct-word relation
    "table_extract",        # DOM table cells as a long relation
    "drop_repeated_spans",  # ExactSubstr removal transform
    "url_filter",           # UT1-style domain/pattern blocklist gate
    "c4_clean",             # C4 line-level cleaning rules
    "politeness_schedule",  # closed-form rate-limit fetch planner
    "pmi_collocations",     # adjacent-bigram PMI collocation mining
    "phrase_search",        # positional exact-phrase intersection
    "margin_topk",          # ratio-margin NN scoring (bitext mining)
    "cdc_chunks",           # content-defined chunking (word-level CDC)
    "calibration_bins",     # reliability-diagram classifier audit
    "registrable_domain",   # PSL eTLD+1 extraction
    "tokenizer_fertility",  # pieces/word per stratum (BPE-composed)
    "readability",          # Flesch ease + FK grade panel
    "embedding_diversity",  # moments-identity pairwise-distance audit
    "ascii_fold",           # NFKD-pair diacritic translate fold
    "ngram_diversity",      # corpus distinct-n degeneracy metric
    "novelty_score",        # unseen-gram fraction vs reference corpus
    "script_profile",       # Unicode script-mix routing panel
    "k_anonymity",          # quasi-identifier release-gate audit
    "label_propagation",    # deterministic LPA community detection
    "robots_check",         # robots.txt parse + RFC 9309 allow check
    "corpus_diff",          # snapshot CDC by normalized fingerprint
    "split_sentences",      # sentence relation (mark-and-split)
    "decontaminate_spans",  # surgical benchmark-gram span removal
    "normalize_punct",      # typographic fold + ligature expansion
    "mojibake",             # encoding-damage detection panel
    "epoch_plan",           # water-filling epoch-capped budget fill
    "code_score",           # code-vs-prose routing panel
    "url_features",         # crawl-frontier URL priors
    # leakage_safe_split joins the non-headline tail below: it embeds a
    # connected-components run whose fixed checkpoint/convergence jobs
    # dominate at bench sf — same exclusion rationale as dedup_clusters.
    # media_curate is excluded like dedup_clusters (it embeds the CC
    # fixed overhead already excluded there, plus the benched phash
    # stage).
    # incremental_cc is deliberately NOT a headline entry for the same
    # reason as dedup_clusters: it embeds two CC runs whose fixed
    # checkpoint/convergence jobs dominate at small sf; its scale
    # evidence is the growth study's label-maintenance column.
    # dedup_clusters is deliberately NOT a headline entry: it embeds
    # minhash_near_dup_pairs (already measured above) and its connected-
    # components increment is fixed job overhead (~3-4 s of checkpoint +
    # convergence-signature jobs) at any small sf — see PERFORMANCE.md.
]

#: tracked but excluded from the headline total: composites whose
#: runtime is dominated by fixed per-iteration overhead at bench sf
#: (CC checkpoints, already-benched embedded stages) — excluding them
#: keeps the headline comparable across rounds, but their medians are
#: still recorded (same warmup/median protocol) so a regression in the
#: tail is visible in the per-round JSON instead of invisible.
TRACKED_NON_HEADLINE = [
    "dedup_clusters",         # minhash pairs + CC keeper resolution
    "incremental_cc",         # contracted-graph label maintenance
    "ann_ivf_topk",           # IVF build+probe (build dominates at sf)
    "media_curate",           # decode-gated hash + pairs + CC, one plan
    "domain_quota_skewsafe",  # two-phase salted top-N quota path
    "leakage_safe_split",     # CC-keyed split (CC fixed cost at sf)
    "perplexity_buckets",     # embeds the already-benched lm_perplexity
    "train_classifier",       # iterative GD: per-round checkpoint fixed cost
    # exact=False production twins of the decimal-exact profiling
    # queries (from fast_variants(); no oracle by construction —
    # double moments re-associate): regression-tracks the ~4x-cheaper
    # path deployments would actually run.
    "correlation_fast",
    "standardize_fast",
    "profile_table_fast",
    "unigram_train",          # EM loop: per-round checkpoint fixed cost
    "schedule_fetches_stream",  # applyInPandasWithState politeness: 4
                                # micro-batches, state across batches
                                # (the repo's only stateful Python op)
    # r9 verdict #3: the non-trivial queries whose walls exceeded ~1 s
    # in SHUFFLE.md but had no tracked median — regressions in the
    # token-fan-out pair path and the real-decode codec paths were
    # invisible without these.
    "ngram_jaccard_pairs",    # 367x token fan-out pair mining
    "video_frames",           # real MJPEG demux + per-frame decode
    "media_metadata",         # real container decode (PNG/GIF/BMP/WAV)
    "quantile_gate",          # exact per-stratum percentile gate
]


def registry():
    """``__spark_entry__`` loaded by file path: the query registry
    (``queries()``, ``fast_variants()``), its DuckDB twins
    (``oracle_sql()``) and the table readers."""
    spec = importlib.util.spec_from_file_location(
        "spark_entry", os.path.join(ROOT, "__spark_entry__.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def session(cpus=CPUS, **conf):
    """The harness SparkSession on ``local[cpus]``: the engine defaults,
    the UI off unless ``conf`` turns it on (``**STAGE_UI``), then
    ``conf``, then two overrides for oversized runs that win over both:
    ``SPARK_GRAFT_DRIVER_MEM`` (the 1g default heap, measured fastest at
    sf0.1, OOMs the synthesized sf1 decade) and
    ``SPARK_GRAFT_SHUFFLE_PARTITIONS`` (more, smaller tasks; AQE
    re-coalesces, so it only bounds per-task memory)."""
    from zacks_estimates_financial_statements_spark.session import get_spark

    conf = {"spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false", **conf}
    for var, key in (("SPARK_GRAFT_DRIVER_MEM", "spark.driver.memory"),
                     ("SPARK_GRAFT_SHUFFLE_PARTITIONS",
                      "spark.sql.shuffle.partitions")):
        if os.environ.get(var):
            conf[key] = os.environ[var]
    return get_spark(master=f"local[{cpus}]", extra_conf=conf)


def force(spark, query, sf_dir: str) -> float:
    """Seconds to evaluate ``query(spark, sf_dir)`` in full through the
    noop sink inside its own ``cache_scope()``; the catalog cache is
    cleared after it, also when the query fails (the honesty rules of
    the module docstring). The time excludes releasing the caches."""
    from zacks_estimates_financial_statements_spark.util import cache_scope

    try:
        with cache_scope():
            t0 = time.time()
            query(spark, sf_dir).write.format("noop").mode("overwrite").save()
            return time.time() - t0
    finally:
        spark.catalog.clearCache()


@contextlib.contextmanager
def new_stages(spark, tasks: bool = False):
    """Yields a list that, when the ``with`` block exits without error,
    holds the status-REST records of the stages completed inside it
    (the session needs ``**STAGE_UI``). The read waits ``SETTLE_S``
    first so the status store has registered the last job. With
    ``tasks`` each record gains ``task_ms``: the (min, median, max)
    executor run time of its tasks; a stage whose task summary is not
    served yet is left out."""
    sc = spark.sparkContext
    api = (f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
           "/stages")

    def get(path):
        with urllib.request.urlopen(api + path) as r:
            return json.load(r)

    before = {(s["stageId"], s["attemptId"])
              for s in get("?status=complete")}
    got: list[dict] = []
    yield got
    time.sleep(SETTLE_S)
    for s in get("?status=complete"):
        if (s["stageId"], s["attemptId"]) in before:
            continue
        if tasks:
            try:
                lo, med, hi = get(
                    f"/{s['stageId']}/{s['attemptId']}/taskSummary"
                    "?quantiles=0.0,0.5,1.0")["executorRunTime"]
            except (urllib.error.URLError, KeyError, ValueError):
                continue  # not summarized yet
            s["task_ms"] = (lo, med, hi)
        got.append(s)


def _calibration_run(spark) -> float:
    """One pass of the host-speed probe: a fixed, data-independent
    synthetic workload (hash + shuffle + agg over spark.range) whose
    runtime depends only on the host, never on the query set or sf.
    Its median rides the bench JSON as ``calibration_sec``; the ratio
    against the baseline's recorded value (``host_factor``) tells a
    reader whether elevated per-query ratios are host noise (CPU steal,
    thermal, co-tenancy) or real regressions — the shared-host noise
    band was measured at ±30-60% under load (PERFORMANCE.md)."""
    import time as _t

    from pyspark.sql import functions as F

    df = (spark.range(0, 64_000_000, 1, 32)
          .select((F.xxhash64("id") % 9973).alias("k"),
                  # pmod before summing: 64M raw hash values overflow a
                  # long sum under ANSI
                  F.pmod(F.xxhash64("id", F.lit(1)), F.lit(1_000_003)).alias("v"))
          .groupBy("k")
          .agg(F.sum("v").alias("s"), F.count("*").alias("c")))
    t0 = _t.time()
    df.write.format("noop").mode("overwrite").save()
    return _t.time() - t0


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    try:
        sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", ""))
    except ValueError:
        sf = None

    mod = registry()
    spark = session()

    qs = mod.queries()
    qs.update(mod.fast_variants())
    # untimed warmup: JVM/codegen/parquet-footer initialization should not
    # be attributed to the first measured query
    for t in ("lineitem", "orders", "documents", "embeddings", "events"):
        try:
            mod._t(spark, sf_dir, t).count()
        except Exception:
            pass

    _calibration_run(spark)  # probe codegen warmup (untimed)

    n_iters = int(os.environ.get("SPARK_GRAFT_BENCH_N", "3"))
    tracked = HEADLINE + [q for q in TRACKED_NON_HEADLINE if q in qs]
    # Untimed WARM pass (protocol v3, r10): every tracked query runs
    # once before the timed passes. First execution of a lineage pays
    # one-time costs the steady-state metric must not include — Janino
    # compile of its generated classes, C2 JIT, per-Python-worker
    # import + FFT-plan warmup on the codec paths — and they decay over
    # SEVERAL passes (audio_near_dup measured 7.2 → 1.95 → 1.2 s; the
    # recurring r8/r9 "audio_near_dup 1.3-1.6x" flag was exactly this:
    # the baseline's N>=5 median sits in the warm tail while the
    # driver's N=3 median straddles the decay). The warm pass makes
    # the median measure steady state at ANY N.
    for name in tracked:
        try:
            dt = force(spark, qs[name], sf_dir)
            print(f"# warm {name}: {dt:.2f}s (untimed)", file=sys.stderr)
        except Exception as exc:  # noqa: BLE001 — warm pass is best-effort
            print(f"# warm {name}: FAILED {str(exc)[:120]}",
                  file=sys.stderr)
    samples: dict[str, list[float]] = {name: [] for name in tracked}
    cal_per_pass: list[float] = []
    for it in range(n_iters):
        # One probe per pass, interleaved with the measured passes:
        # a co-tenancy noise burst that hits pass k shows up as an
        # elevated cal_per_pass[k], so elevated per-query ratios can
        # be attributed to the host, not the code, pass by pass.
        cal_per_pass.append(round(_calibration_run(spark), 3))
        print(f"# pass {it + 1}/{n_iters} calibration: "
              f"{cal_per_pass[-1]:.2f}s", file=sys.stderr)
        for name in tracked:
            # force() runs the query in its own cache_scope() and clears
            # the catalog cache after it: without that, a cache-carrying
            # query's per-pass times form a staircase (measured:
            # perplexity_buckets 3.7 -> 1.8 -> 0.8 within one run) and
            # its median measures N, not the code.
            dt = force(spark, qs[name], sf_dir)
            samples[name].append(dt)
            print(f"# pass {it + 1}/{n_iters} {name}: {dt:.2f}s",
                  file=sys.stderr)
    cal_sec = round(statistics.median(cal_per_pass), 3)

    timings = {name: round(statistics.median(s), 3)
               for name, s in samples.items()}
    total = sum(timings[name] for name in HEADLINE)

    spark.stop()

    # Per-query delta vs the committed noop-sink baseline
    # (BENCH_BASELINE.json: N>=5 idle-window medians — the first
    # honest-timing reference; the r1-r5 count-era series is invalid
    # for projection queries). Ratios > ~1.5x flag to stderr; the
    # ratio dict rides the JSON line so the driver records it too.
    base_path = os.path.join(ROOT, "BENCH_BASELINE.json")
    vs_baseline = {}
    host_factor = None
    if os.path.exists(base_path):
        base_doc = json.load(open(base_path))
        base = base_doc.get("queries", {})
        base_cal = base_doc.get("calibration_sec")
        if base_cal:
            host_factor = round(cal_sec / base_cal, 2)
            if host_factor > 1.2:
                print(f"# HOST SLOW: calibration probe {host_factor:.2f}x "
                      "the baseline host speed — elevated per-query ratios "
                      "below are probably co-tenancy noise, not regressions",
                      file=sys.stderr)
        for name, t in timings.items():
            b = base.get(name)
            if b:
                vs_baseline[name] = round(t / b, 2)
        # Flag on the HOST-NORMALIZED ratio (r9: raw ratios spam
        # phantom flags on a slow host — the driver's r8 run at
        # host_factor 1.38 — and MASK real regressions on a fast one,
        # host_factor < 1). The JSON keeps the raw ratios; the probe
        # ratio is the divisor, clamped away from 0 for safety.
        hf = host_factor if host_factor and host_factor > 0.1 else 1.0
        for name, r in sorted(vs_baseline.items(), key=lambda kv: -kv[1]):
            if r / hf > 1.5:
                print(f"# REGRESSION? {name}: {timings[name]:.2f}s = "
                      f"{r:.2f}x baseline ({r / hf:.2f}x host-normalized)",
                      file=sys.stderr)
    else:
        print("# no BENCH_BASELINE.json — per-query deltas unavailable "
              "(tools/bench_gate.py --record-baseline writes it)",
              file=sys.stderr)

    print(json.dumps({
        "metric": "headline_queries_total_runtime",
        "value": round(total, 3),
        "unit": "sec",
        "queries": {name: timings[name] for name in HEADLINE},
        "non_headline": {name: timings[name]
                         for name in tracked if name not in HEADLINE},
        "vs_baseline": vs_baseline,
        "calibration_sec": cal_sec,
        "calibration_per_pass": cal_per_pass,
        "host_factor": host_factor,
        "sf": sf,
        "n": n_iters,
    }))


if __name__ == "__main__":
    main()
