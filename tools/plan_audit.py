"""Plan audit: run every ``queries()`` entry, inspect the executed plan,
and write PLANS.md — a per-query table of the properties that matter at
100 TB (join strategies, shuffle count, scan pushdown, red flags).

Red-flag rules:
- ``CartesianProduct`` anywhere → ALL-PAIRS (scale-killer);
- ``BroadcastNestedLoopJoin`` whose build side is NOT a tiny literal
  range/index fan-out → NON-EQUI JOIN (we whitelist the intentional
  k-range/bit-range broadcasts, which are linear constant fan-outs);
- a ``Filter`` whose condition embeds a lambda over a fresh
  ``split``/``sequence`` of raw input → INLINED-LAMBDA-FILTER: the
  InferFiltersFromGenerate / pushed-predicate recompute class that cost
  ``benchmark_contamination`` 9× in round 5 (the whole array expression
  re-evaluates per row inside the filter, invisibly to ``count()``).
  Queries where the recomputed expression IS the semantic gate (one
  extra panel pass, accepted and documented in PERFORMANCE.md) are
  whitelisted; any NEW query growing one fails the audit.

Usage: python tools/plan_audit.py [sf_dir] [out_md]
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402

#: queries whose BNLJ is deliberate and bounded — broadcast of a tiny
#: constant-size side (hash/bit index range, centroid table, or the
#: declared exact-baseline query set); a linear fan-out, not a pair join
FANOUT_BNLJ_OK = {
    "minhash_signatures": "k-row hash-index range broadcast",
    "minhash_near_dup_pairs": "k-row hash-index range broadcast",
    "simhash": "64-row bit-index range broadcast",
    "simhash_pairs": "64-row bit-index range broadcast",
    "topk_cosine": "declared exact baseline: broadcast query set x corpus",
    "hard_negatives": "inherits topk_cosine's declared exact-baseline "
                      "candidate generator (the registered query uses "
                      "method='brute' so the oracle can replay it; the "
                      "100 TB path is method='lsh'/'ivf', whose plans "
                      "are the bucketed ann_* shapes)",
    "ann_ivf_topk": "n_centroids-row centroid table broadcast (coarse "
                    "quantizer scoring)",
    "token_frequencies": "1-row corpus-count aggregate broadcast "
                         "(scalar attach for IDF's N; Catalyst folds "
                         "the constant join key to true)",
    "lm_perplexity": "1-row vocabulary-size aggregate broadcast "
                     "(scalar attach for the smoothing denominator; "
                     "same folded-constant-key shape as "
                     "token_frequencies)",
    "semantic_dedup": "n_centroids-row centroid table broadcast (coarse "
                      "quantizer scoring — same shape as ann_ivf_topk); "
                      "pair generation itself is the grouped equi-key "
                      "explode, never a nested loop",
    "bm25_search": "1-row corpus-stats aggregate broadcast (N/avgdl "
                   "scalar attach; folded-constant-key shape as "
                   "token_frequencies)",
    "pmi_collocations": "1-row corpus-totals broadcast (T/B scalar "
                        "attach; folded-constant-key shape as "
                        "token_frequencies)",
    "margin_topk": "declared exact baseline BOTH directions (broadcast "
                   "query set x corpus, topk_cosine's shape); at "
                   "corpus x corpus scale the fwd=/bwd= args take any "
                   "bucketed ANN tier's output instead",
    "topic_summaries": "n_centroids-row centroid broadcast (coarse "
                       "quantizer scoring, same as ann_ivf_topk) plus "
                       "the 1-row cluster-count scalar attach",
    "hybrid_search": "inherits bm25_search's 1-row corpus-stats scalar "
                     "attach inside its lexical retriever; the fusion "
                     "joins are bounded candidate-list equi-joins",
    "standardize": "1-row stats-aggregate broadcast crossJoin (the "
                   "scalar-attach shape: means/sigmas onto every row "
                   "without shuffling the fact table)",
    "tfidf_pairs": "1-row corpus-count aggregate broadcast for the IDF "
                   "N (folded-constant-key shape, same as "
                   "token_frequencies); pair generation is the grouped "
                   "equi-key explode, never a nested loop",
    "bloom_semi_join": "1-row bloom-bitmap broadcast crossJoin (the "
                       "scalar-attach shape: the probe side filters "
                       "against a 2^20-bit map without shuffling; the "
                       "real join after it is an equi-join)",
    "perplexity_buckets": "embeds lm_perplexity's 1-row vocabulary-"
                          "size scalar attach (same folded-constant-"
                          "key shape); the tertile cuts join is a "
                          "|strata|-row broadcast equi-join",
    "dsir_select": "two 1-row corpus-total aggregates broadcast onto "
                   "the <=buckets-row bucket model (scalar-attach "
                   "shape, same as standardize); doc scoring itself "
                   "is a broadcast equi-join on bucket",
    "semantic_decontaminate": "|benchmark|-row broadcast scoring cross "
                              "(eval sets are bounded by construction "
                              "— the same brute-tier shape as "
                              "topk_cosine; candidates= swaps in an "
                              "ANN equi-join when they are not)",
    "distribution_drift": "1-row totals aggregate broadcast onto the "
                          "bucket-cardinality join (scalar-attach "
                          "shape, same as standardize)",
    "kn_perplexity": "1-row distinct-bigram-type total broadcast "
                     "(folded-constant-key scalar attach — the same "
                     "shape as lm_perplexity's vocabulary size)",
    "unigram_vocab": "1-row vocabulary-total broadcast crossJoin "
                     "(scalar-attach shape, same as standardize) onto "
                     "the vocab-bounded piece relation",
    "unigram_encode": "inherits unigram_vocab's 1-row total scalar "
                      "attach, once per candidate branch (multi + "
                      "single-char) — both on vocab-bounded "
                      "relations; the substring-candidate joins "
                      "themselves are broadcast EQUI-joins on piece",
    "unigram_train": "the same 1-row total scalar attaches as "
                     "unigram_vocab/encode (seed + per-EM-round "
                     "re-cost), all on vocab-bounded relations; the "
                     "loop body's joins are broadcast equi-joins on "
                     "piece/word",
}

#: queries where a Filter re-evaluating a lambda-built array is the
#: SEMANTIC gate itself (language/quality predicates, caller-written
#: size() guards) — one extra panel/tokenize pass per row, measured and
#: accepted (PERFORMANCE.md "inferred-filter recompute class"). Kept
#: deliberately: suppressing them needs statically-non-nullable score
#: expressions, which would change NULL-text semantics vs the SQL twins.
LAMBDA_FILTER_OK = {
    "clean_corpus": "language/quality gate predicates recompute one "
                    "panel pass (semantic filters, not inferred ones)",
    "quantile_gate": "inferred isnotnull on the quality score "
                     "duplicates one panel pass",
    "repeated_spans": "caller-written size(tokens) >= n guard pushed "
                      "into the scan filter — one extra split pass",
    "lm_perplexity": "caller-written size(tokens) >= 2 guard pushed "
                     "into the scan filter — one extra split pass",
    "kn_perplexity": "the same caller-written size(tokens) >= 2 guard "
                     "as lm_perplexity, pushed into the scan filter "
                     "of each model branch",
    "curate_pipeline": "embeds clean_corpus-style quality gates",
    "perplexity_buckets": "embeds lm_perplexity's caller-written "
                          "size(tokens) >= 2 guard pushed into the "
                          "scan filter",
    "drop_repeated_spans": "embeds repeated_spans' caller-written "
                           "size(tokens) >= k guard pushed into the "
                           "scan filter",
    "pmi_collocations": "size(tokens) >= 2 bigram guard pushed into "
                        "the scan filter (the lm_perplexity shape) — "
                        "one extra split pass",
    "cdc_chunks": "size(tokens) >= 1 empty-doc guard pushed into the "
                  "scan filter — one extra split pass",
}

#: queries whose GLOBAL (unpartitioned) window is provably bounded but
#: the limit is not a plan-visible child of the Window node (e.g. the
#: window runs over an aggregate whose cardinality is bounded by
#: construction). Post-`.limit(top_n)` windows need no whitelist entry —
#: the detector sees the GlobalLimit below the Window.
GLOBAL_WINDOW_OK: dict[str, str] = {
    "epoch_plan": "every window's input is the groupBy(strata) "
                  "aggregate — |strata| rows by construction (the "
                  "mixture_plan frame); the water-filling prefix "
                  "sums need a global order over that tiny relation",
}

_LAMBDA_FILTER_RE = re.compile(r"Filter [^\n]+")


def _indent(line: str) -> int:
    """Tree depth of a plan line = offset of the payload past the
    '+- ' / ':- ' / ':  ' rail characters."""
    i = 0
    while i < len(line) and line[i] in " :+-*()0123456789":
        i += 1
    return i


def _unbounded_global_windows(plan: str) -> int:
    """Count Window nodes that are (a) UNPARTITIONED — the node string
    is ``Window [funcs], [order]``, one ``], [`` separator, vs the
    partitioned ``Window [funcs], [part], [order]`` — and (b) not fed
    by a Limit below them in the plan. An unpartitioned window funnels
    the whole relation through ONE task: at 100 TB that is the
    single-partition scale-killer, acceptable only after a limit or
    over a bounded aggregate (whitelist)."""
    lines = plan.splitlines()
    n = 0
    for i, line in enumerate(lines):
        m = re.search(r"\bWindow(?:GroupLimit)? \[", line)
        if not m or "WindowGroupLimit" in line:
            continue
        if line.count("], [") != 1:
            continue  # partitioned+ordered (2 separators) or odd shape
        # two-group windows are EITHER [funcs],[order] (global — the
        # funnel) OR [funcs],[partition] (partition-only aggregate
        # window — fine). Order specs always print sort direction.
        last_group = line.rsplit("], [", 1)[1]
        if not re.search(r"\b(ASC|DESC)\b", last_group):
            continue  # partition spec, not an order spec
        depth = _indent(line)
        bounded = False
        for below in lines[i + 1:]:
            d = _indent(below)
            if d <= depth and below.strip():
                break  # left the subtree
            if re.search(r"\b(GlobalLimit|CollectLimit|"
                         r"TakeOrderedAndProject|Limit \d)", below):
                bounded = True
                break
        if not bounded:
            n += 1
    return n


def _inlined_lambda_filters(plan: str) -> int:
    """Count Filter nodes whose condition re-evaluates a lambda over a
    fresh split/sequence — the recompute class described above."""
    n = 0
    for m in _LAMBDA_FILTER_RE.finditer(plan):
        cond = m.group(0)
        if "lambdafunction" in cond and ("split(" in cond
                                         or "sequence(" in cond):
            n += 1
    return n


def audit(plan: str, name: str) -> dict:
    flags = []
    if "CartesianProduct" in plan:
        flags.append("CARTESIAN")
    if "BroadcastNestedLoopJoin" in plan and name not in FANOUT_BNLJ_OK:
        flags.append("BNLJ")
    lam = _inlined_lambda_filters(plan)
    if lam and name not in LAMBDA_FILTER_OK:
        flags.append("LAMBDA-FILTER")
    gw = _unbounded_global_windows(plan)
    if gw and name not in GLOBAL_WINDOW_OK:
        flags.append("GLOBAL-WINDOW")
    pushed = re.findall(r"PushedFilters: \[([^\]]+)\]", plan)
    pushed = [p for p in pushed if p.strip()]
    return {
        "bhj": plan.count("BroadcastHashJoin"),
        "smj": plan.count("SortMergeJoin"),
        "bnlj": plan.count("BroadcastNestedLoopJoin"),
        "exchanges": plan.count("Exchange hashpartitioning"),
        "reused": plan.count("ReusedExchange"),
        # executed plans mark whole-stage-codegen spans as "*(N)" prefixes
        "codegen": len(set(re.findall(r"\*\((\d+)\)", plan))),
        "pushed": len(pushed),
        "lam": lam,
        "gw": gw,
        "flags": ",".join(flags) or "-",
    }


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    out_md = sys.argv[2] if len(sys.argv) > 2 else os.path.join(
        bench.ROOT, "PLANS.md")

    from zacks_estimates_financial_statements_spark.util import cache_scope

    mod = bench.registry()
    spark = bench.session()

    rows = []
    bad = 0
    for name, fn in mod.queries().items():
        try:
            with cache_scope():
                df = fn(spark, sf_dir)
                plan = df._jdf.queryExecution().executedPlan().toString()
            a = audit(plan, name)
        except Exception as exc:  # noqa: BLE001
            a = {"bhj": "-", "smj": "-", "bnlj": "-", "exchanges": "-",
                 "reused": "-", "codegen": "-", "pushed": "-", "lam": "-",
                 "gw": "-", "flags": f"ERR:{str(exc)[:40]}"}
        finally:
            # drop per-query persist registrations so a later query's
            # canonically-equal subtree is audited as its REAL plan,
            # not as an InMemoryTableScan of this query's cache
            spark.catalog.clearCache()
        if a["flags"] != "-":
            bad += 1
        rows.append((name, a))
        print(name, a)

    with open(out_md, "w") as f:
        f.write(
            "# Plan audit (auto-generated by tools/plan_audit.py)\n\n"
            f"Executed plans of all {len(rows)} oracle queries at "
            f"`{sf_dir}`. Joins: BHJ=BroadcastHashJoin, SMJ=SortMergeJoin,"
            " BNLJ=BroadcastNestedLoopJoin (whitelisted for the k-range /"
            " bit-range constant fan-outs in the sketching operators —"
            " those broadcasts are tiny literal index ranges, a linear"
            " fan-out, not a pair join). `flags` is non-`-` only for"
            " scale-killers: cartesian products, non-whitelisted"
            " nested-loop joins, or non-whitelisted inlined-lambda"
            " filters (`lam` counts Filter nodes re-evaluating a"
            " lambda-built array — the InferFiltersFromGenerate /"
            " pushed-predicate recompute class; see PERFORMANCE.md), or"
            " unbounded global windows (`gw` counts unpartitioned Window"
            " nodes with no Limit below them — the single-partition"
            " funnel; post-limit windows pass automatically).\n\n"
            "| query | BHJ | SMJ | BNLJ | shuffles | reused | codegen | "
            "pushed scans | lam | gw | flags |\n"
            "|---|---|---|---|---|---|---|---|---|---|---|\n")
        for name, a in rows:
            f.write(f"| {name} | {a['bhj']} | {a['smj']} | {a['bnlj']} | "
                    f"{a['exchanges']} | {a['reused']} | {a['codegen']} | "
                    f"{a['pushed']} | {a['lam']} | {a['gw']} | "
                    f"{a['flags']} |\n")
        f.write(f"\nQueries with red flags: **{bad}**.\n\n"
                "## Whitelisted nested-loop fan-outs\n\n")
        for q, why in sorted(FANOUT_BNLJ_OK.items()):
            f.write(f"- `{q}` — {why}\n")
        f.write("\n## Whitelisted inlined-lambda filters"
                " (one measured extra pass, semantic predicates)\n\n")
        for q, why in sorted(LAMBDA_FILTER_OK.items()):
            f.write(f"- `{q}` — {why}\n")
        if GLOBAL_WINDOW_OK:
            f.write("\n## Whitelisted global windows (bounded by"
                    " construction, no plan-visible limit)\n\n")
            for q, why in sorted(GLOBAL_WINDOW_OK.items()):
                f.write(f"- `{q}` — {why}\n")
    spark.stop()
    print(f"wrote {out_md}; {bad} flagged")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
