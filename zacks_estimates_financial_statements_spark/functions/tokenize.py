"""Subword tokenization with a broadcast vocabulary.

The curation operators' default token unit is the whitespace word — a
proxy. Training budgets ("fill 50 B tokens", "pack to 2048") mean
MODEL tokens, so this module provides a deterministic greedy
longest-prefix-match subword encoder (the BPE/WordPiece inference
rule: maximal munch against a fixed piece vocabulary, Wu et al. 2016
§4.1 / Sennrich et al. 2016) whose vocabulary derives reproducibly
from the corpus itself, so the DuckDB oracle twin can re-derive both
the vocabulary and the encoding closed-form.

Vocabulary = all prefixes (length ≤ ``max_piece_len``) of the
``top_k`` most frequent words, plus every single character occurring
in any word. The single-char floor means greedy matching always
terminates without an ``<unk>`` escape on corpus-derived vocabularies;
the encoder still guards with ``<unk>`` + advance-one for externally
supplied vocabularies that lack a character.

Encoding runs in ONE bounded ``mapInPandas`` pass — the legitimate
Python case: per-word greedy matching is an inherently sequential loop
that Spark's built-ins can only express as nested higher-order
functions (position fold × length probe), which leave whole-stage
codegen AND go quadratic per word. The vocabulary ships once per
executor as a Spark broadcast frozenset (set-membership probes are
O(1)), never per row; word splitting matches
``curation._word_array`` / ``functions.text.word_tokens`` exactly
(lowercase, split on ``[^a-z0-9_]+``, empties dropped — the ASCII
class all three engines agree on).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, Window, functions as F

from zacks_estimates_financial_statements_spark.functions.text import simple_lower
from zacks_estimates_financial_statements_spark.util import cache_scope, persist

UNK = "<unk>"

_WORD_SPLIT_RE = re.compile(r"[^a-z0-9_]+")


def wordpiece_vocab(df: DataFrame, text_col: str, top_k: int = 50,
                    max_piece_len: int = 8) -> DataFrame:
    """Derive a deterministic subword vocabulary from the corpus:
    ``(piece, piece_id)``.

    Pieces are (a) every prefix up to ``max_piece_len`` of the
    ``top_k`` most frequent words (frequency desc, word asc tie-break —
    the closed-form analog of BPE's learned merges: frequent surface
    strings become single pieces, and their prefixes give partial
    matches for unseen inflections) and (b) every single character in
    any corpus word (the OOV floor). ``piece_id`` is the bytewise rank
    of the piece — stable across engines.

    Plan: one explode + count shuffle (map-side combined) for the
    frequency table; everything after operates on ≤ top_k × max_piece_len
    + |alphabet| rows, so the ordering window is bounded, not
    corpus-sized.
    """
    if top_k < 1:
        raise ValueError(f"top_k must be >= 1, got {top_k}")
    if max_piece_len < 1:
        raise ValueError(f"max_piece_len must be >= 1, got {max_piece_len}")
    words = df.select(F.explode(
        F.filter(F.split(simple_lower(F.col(text_col)), r"[^a-z0-9_]+"),
                 lambda x: x != "")).alias("word"))
    top = (words.groupBy("word").agg(F.count("*").alias("__n"))
           .orderBy(F.desc("__n"), F.asc("word")).limit(top_k))
    prefixes = top.select(F.explode(F.transform(
        F.sequence(F.lit(1), F.least(F.length("word"),
                                     F.lit(max_piece_len))),
        lambda i: F.col("word").substr(F.lit(1), i))).alias("piece"))
    chars = (words.distinct().select(F.explode(F.transform(
        F.sequence(F.lit(1), F.length("word")),
        lambda i: F.col("word").substr(i, F.lit(1)))).alias("piece")))
    vocab = prefixes.unionByName(chars).distinct()
    return vocab.withColumn(
        "piece_id",
        F.row_number().over(Window.orderBy("piece")).cast("bigint"))


def wordpiece_encode(df: DataFrame, id_col: str, text_col: str,
                     vocab: DataFrame,
                     max_piece_len: int = 8) -> DataFrame:
    """Greedy longest-match subword encoding: one output row per input
    row with ``tokens array<string>`` and ``n_tokens bigint`` (join
    back on ``id_col`` for the rest of the schema).

    Per word, repeatedly emit the longest vocabulary piece that
    prefixes the remaining suffix (trying lengths ``max_piece_len``
    down to 1) and advance past it; if nothing matches — impossible
    when the vocab carries the corpus alphabet — emit ``<unk>`` and
    advance one character. Deterministic given (vocab, max_piece_len).

    The vocabulary is collected once (bounded: it is an already
    aggregated piece table, not corpus data) and broadcast to
    executors as a frozenset; encoding is a single ``mapInPandas``
    projection — no shuffle at any corpus size.
    """
    spark = df.sparkSession
    pieces = frozenset(r["piece"] for r in vocab.select("piece").collect())
    bc = spark.sparkContext.broadcast(pieces)
    from zacks_estimates_financial_statements_spark import util
    util.ensure_package_on_executors(spark)

    # integral ids ride as strings (util.pandas_safe_id: pandas's
    # float64 nullable-int representation corrupts extreme ids)
    df, id_type, restore = util.pandas_safe_id(df, id_col)
    schema = f"{id_col} {id_type}, tokens array<string>, n_tokens bigint"
    plen = int(max_piece_len)

    def encode_batches(batches):
        import pandas as pd

        vs = bc.value
        for pdf in batches:
            toks_out, counts = [], []
            for text in pdf[text_col]:
                ws = [w for w in
                      _WORD_SPLIT_RE.split(("" if text is None
                                            else str(text)).lower()) if w]
                out = []
                for w in ws:
                    pos, n = 0, len(w)
                    while pos < n:
                        for k in range(min(plen, n - pos), 0, -1):
                            piece = w[pos:pos + k]
                            if piece in vs:
                                out.append(piece)
                                pos += k
                                break
                        else:
                            out.append(UNK)
                            pos += 1
                toks_out.append(out)
                counts.append(len(out))
            yield pd.DataFrame({id_col: pdf[id_col], "tokens": toks_out,
                                "n_tokens": counts})

    return restore(
        df.select(id_col, text_col).mapInPandas(encode_batches, schema))


def bpe_word_counts(df: DataFrame, text_col: str) -> DataFrame:
    """The ``(w, cnt)`` vocabulary relation ``bpe_train`` aggregates —
    exposed so a caller running train AND encode over the same corpus
    can build it once, persist it, and pass it to both via their
    ``words=`` parameter (one corpus tokenize instead of three: the
    trainer's word count, the encoder's distinct-word segmentation
    source, and — still paid — the encoder's occurrence join each
    replay the regex split otherwise). The persist/release contract is
    the caller's."""
    return (df.select(F.explode(_words(F.col(text_col))).alias("w"))
            .groupBy("w").agg(F.count(F.lit(1)).alias("cnt")))


def bpe_train(df: DataFrame, text_col: str, n_merges: int = 6,
              max_local_vocab: int = 2_000_000,
              words: DataFrame | None = None) -> list[tuple[str, str]]:
    """Distributed BPE merge learning (Sennrich, Haddow, Birch, ACL
    2016 §3.2): learn ``n_merges`` symbol-pair merges from the corpus.

    Scale shape — the one real BPE trainers use: the corpus is touched
    by exactly ONE shuffle (word → count); merge learning then runs on
    the VOCABULARY-sized (word, count, segmentation) relation. Merge
    selection is inherently sequential (merge ``k`` changes the pair
    counts merge ``k+1`` ranks), so the per-merge work cannot fan out —
    the question is only WHERE the sequential loop runs:

    - **executor-side, one job** (vocab ≤ ``max_local_vocab``): the
      checkpointed segmentation relation coalesces to one task and a
      ``mapInPandas`` loop learns all ``n_merges`` merges in a single
      pass — the same move Sennrich's reference ``learn_bpe`` makes
      (the trainer operates on the aggregated word-count table, never
      the corpus). Total driver-synchronous jobs: 2, independent of
      ``n_merges`` — r11's shape was 2 jobs PER merge and BENCH_r11
      measured it job-launch-latency-bound on a slow VM (the argmax
      was a 2-stage distributed job over a 31-row relation).
    - **distributed fallback** (oversized vocab): per merge, a bigram
      explode + count-weighted aggregation ranks candidate pairs and
      the winner comes back as one bounded TakeOrdered row; the merge
      applies as a string ``replace`` projection and the relation is
      re-checkpointed so round ``k`` never replays rounds ``1..k-1``.

    Both paths implement the identical algorithm on the identical
    representation, so the learned list is bit-for-bit the same: pair
    counts sum ``cnt`` over ALL adjacencies (overlaps included), the
    winner is ``(count desc, left asc, right asc)`` — deterministic,
    and Python tuple compare on ``str`` matches Spark's UTF8-binary
    ordering because UTF-8 byte order preserves codepoint order — and
    the merge is a plain left-to-right global replace.

    Segmentations are strings with a TWO-space separator and two-space
    padding; the merge replacement ``" a  b " -> " ab "`` consumes one
    boundary space from each side, which keeps chained occurrences
    (``a b a b``) all mergeable under plain left-to-right global
    replace (``str.replace`` ≡ Spark ``F.replace`` ≡ ANSI SQL
    ``replace`` — the oracle twin runs the same operation).

    Returns the ordered merge list ``[(left, right), ...]`` (may be
    shorter than ``n_merges`` if the pair space is exhausted). Feed
    the resulting pieces to ``wordpiece_encode`` as the vocabulary.
    """
    if words is None:   # ``words=``: see bpe_word_counts
        words = bpe_word_counts(df, text_col)
    seg = (words.select(
        "cnt",
        F.concat(F.lit("  "),
                 F.regexp_replace(F.col("w"), r"(.)", "$1  "))
        .alias("seg"))
        .localCheckpoint(eager=False))
    # job 1: corpus shuffle + checkpoint materialization + vocab size
    n_vocab = seg.count()
    if n_vocab <= max_local_vocab:
        return _bpe_merge_single_task(seg, n_merges)

    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        arr = F.array_remove(F.split(F.col("seg"), "  "), "")
        pairs = (seg.select("cnt", arr.alias("a"))
                 .filter(F.size("a") >= 2)
                 .select("cnt", F.explode(F.arrays_zip(
                     F.slice("a", 1, F.size("a") - 1).alias("x"),
                     F.slice("a", 2, F.size("a") - 1).alias("y")))
                     .alias("p"))
                 .groupBy(F.col("p.x").alias("x"), F.col("p.y").alias("y"))
                 .agg(F.sum("cnt").alias("c")))
        best = (pairs.orderBy(F.col("c").desc(), F.col("x").asc(),
                              F.col("y").asc())
                .limit(1).collect())
        if not best:
            break
        x, y = best[0]["x"], best[0]["y"]
        merges.append((x, y))
        seg = (seg.withColumn(
            "seg", F.replace(F.col("seg"),
                             F.lit(f" {x}  {y} "), F.lit(f" {x}{y} ")))
            .localCheckpoint(eager=True))
    return merges


def _bpe_merge_single_task(seg: DataFrame,
                           n_merges: int) -> list[tuple[str, str]]:
    """The executor-side merge loop: one ``mapInPandas`` task over the
    coalesced (cnt, seg) relation learns every merge; the driver
    collects only the bounded ``n_merges``-row result. The closure is
    self-contained (no repo imports), so it needs no executor package
    shipping. Per-merge recount is O(total symbols) — fine for the
    tens-of-merges tier; a heap + pair→word index (the classic
    incremental trainer) drops it to O(changed words) if a caller ever
    needs 50k merges."""
    def run(batches):
        import pandas as pd

        rows: list[tuple[int, str]] = []
        for pdf in batches:
            rows.extend(zip((int(c) for c in pdf["cnt"]),
                            (str(s) for s in pdf["seg"])))
        merges: list[tuple[str, str]] = []
        for _ in range(int(n_merges)):
            counts: dict[tuple[str, str], int] = {}
            for cnt, s in rows:
                syms = [t for t in s.split("  ") if t]
                for pair in zip(syms, syms[1:]):
                    counts[pair] = counts.get(pair, 0) + cnt
            if not counts:
                break
            (x, y), _c = min(counts.items(),
                             key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))
            merges.append((x, y))
            old, new = f" {x}  {y} ", f" {x}{y} "
            rows = [(cnt, s.replace(old, new)) for cnt, s in rows]
        yield pd.DataFrame(
            {"merge_rank": pd.Series(range(1, len(merges) + 1),
                                     dtype="int32"),
             "lhs": pd.Series([m[0] for m in merges], dtype="object"),
             "rhs": pd.Series([m[1] for m in merges], dtype="object")})

    out = (seg.coalesce(1)
           .mapInPandas(run, "merge_rank int, lhs string, rhs string"))
    return [(r["lhs"], r["rhs"])
            for r in sorted(out.collect(), key=lambda r: r["merge_rank"])]


def _words(text: F.Column) -> F.Column:
    """The shared word split (lowercase, ``[^a-z0-9_]+``, no empties) —
    must stay identical to ``curation._word_array``."""
    return F.array_remove(F.split(simple_lower(text), r"[^a-z0-9_]+"), "")


def bpe_encode(df: DataFrame, id_col: str, text_col: str,
               merges: list[tuple[str, str]],
               words: DataFrame | None = None) -> DataFrame:
    """Apply a learned BPE merge list (``bpe_train``'s artifact) to a
    corpus — the inference half of the tokenizer pair.

    Entirely native Catalyst, zero Python in the hot path: encoding
    happens on the DISTINCT-WORD relation (vocabulary-sized, the same
    relation the trainer iterates), where each merge is one plain
    string ``replace`` over the two-space-padded segmentation (the
    representation ``bpe_train`` documents: ``" x  y " -> " xy "``
    consumes one boundary space per side, so chained occurrences merge
    left-to-right under global replace — identical in ANSI SQL). Word
    occurrences then rejoin their piece arrays and re-assemble per
    document in word order.

    Cost: one corpus word explode + distinct (vocabulary shuffle), k
    merge projections over the vocab relation, one occurrence join
    (AQE broadcasts the encoded vocab when it fits), one per-doc
    reassembly. Returns ``(id, pieces array<string>, n_pieces)`` —
    docs with no words get an empty array.
    """
    w = df.select(F.col(id_col),
                  F.posexplode(_words(F.col(text_col)))
                  .alias("__wp", "__w"))
    # ``words=`` (r14): a caller that already built the (w, cnt)
    # vocabulary relation (bpe_word_counts, typically persisted and
    # shared with bpe_train) supplies it here, replacing this leg's
    # corpus tokenize + distinct exchange with a cache read. It covers
    # every corpus word — the occurrence join below is inner, so a
    # pruned vocabulary would silently drop rare-word occurrences from
    # the encoding. The
    # occurrence leg ``w`` above still tokenizes once — it needs the
    # per-document positions no vocabulary relation carries.
    vocab_src = (w.select(F.col("__w").alias("w")).distinct()
                 if words is None else words.select("w"))
    seg = vocab_src.withColumn(
        "seg", F.concat(F.lit("  "),
                        F.regexp_replace(F.col("w"), r"(.)", "$1  ")))
    for x, y in merges:
        seg = seg.withColumn(
            "seg", F.replace(F.col("seg"),
                             F.lit(f" {x}  {y} "), F.lit(f" {x}{y} ")))
    pieces = seg.select(
        "w", F.array_remove(F.split("seg", "  "), "").alias("__pieces"))
    joined = w.join(pieces, w["__w"] == pieces["w"]).drop("w")
    agg = (joined.groupBy(id_col)
           .agg(F.flatten(F.transform(
               F.array_sort(F.collect_list(
                   F.struct("__wp", "__pieces"))),
               lambda s: s["__pieces"])).alias("pieces")))
    return (df.select(id_col).join(agg, id_col, "left")
            .select(F.col(id_col),
                    F.coalesce("pieces", F.array().cast("array<string>"))
                    .alias("pieces"))
            .withColumn("n_pieces", F.size("pieces")))


def unigram_seed_vocab(df: DataFrame, text_col: str,
                       vocab_size: int = 200,
                       max_piece_len: int = 4,
                       cache_freqs: bool = False) -> DataFrame:
    """Seed vocabulary for a unigram-LM (SentencePiece-style)
    tokenizer (Kudo, ACL 2018 §3): every single character plus the
    ``vocab_size`` most frequent multi-character substrings (length <=
    ``max_piece_len``) of the corpus words, each with its negative
    log-probability cost ``-ln(freq / total)`` over the selected
    vocabulary. Characters are always kept — the encoder's closure
    guarantee — so ``vocab_size`` budgets the MULTI-char pieces.

    This is the candidate-generation step of unigram training; the
    costs already make a usable Viterbi tokenizer
    (``unigram_encode``), and an EM refinement loop can re-estimate
    them against the same encoder.

    Determinism: the multi-piece cut ranks (freq DESC, piece ASC) via
    a global ``orderBy().limit()`` (TakeOrdered — a per-partition heap
    merge, no single-partition window); costs round to 6.

    Scale shape: substring generation runs on the DISTINCT-WORD
    relation (vocabulary-sized — the corpus itself contributes one
    map-side-combined word count), so the explode fan-out is
    |distinct words| × len × ``max_piece_len``, not corpus-scale; the
    total is a 1-row broadcast scalar attach.

    Output: ``(piece, freq, cost)``.
    """
    if vocab_size < 0 or max_piece_len < 2:
        raise ValueError(
            f"need vocab_size >= 0 and max_piece_len >= 2, got "
            f"{vocab_size}/{max_piece_len}")
    w = (df.select(F.explode_outer(_words(F.col(text_col)))
                   .alias("__w"))
         .filter(F.col("__w").isNotNull()))
    words = w.groupBy("__w").agg(F.count("*").alias("__wf"))
    n = F.length("__w")
    subs = (words
            .select("__w", "__wf",
                    F.explode_outer(F.sequence(F.lit(1), n)).alias("__i"))
            .select("__w", "__wf", "__i",
                    F.explode_outer(F.sequence(
                        F.lit(1),
                        F.least(F.lit(max_piece_len),
                                F.length("__w") - F.col("__i") + 1)))
                    .alias("__l"))
            .select(F.substr(F.col("__w"), F.col("__i"), F.col("__l"))
                    .alias("piece"), "__wf"))
    freqs = subs.groupBy("piece").agg(F.sum("__wf").alias("freq"))
    # ``cache_freqs`` (r13): chars, the multi cut and the total each
    # re-derive freqs, so every evaluation of the returned vocab runs
    # the corpus word pass ~4x (parallel legs of one job) — and a
    # consumer that references the vocab repeatedly multiplies that
    # (q_unigram_encode's committed plan scanned documents 13x).
    # Persisting freqs (TYPE-scale — substrings of DISTINCT words,
    # Heaps-law sub-corpus) collapses every replay to one corpus pass.
    # OPT-IN because the standalone seed query is FASTER without it
    # at sf0.1 (measured +0.5 s: the parallel replays hide behind
    # local cores while the cache write/read cost is fixed) — callers
    # that re-reference the vocab (unigram_encode, unigram_train)
    # enable it; the caller's ``cache_scope`` releases it.
    if cache_freqs:
        freqs = persist(freqs)
    chars = freqs.filter(F.length("piece") == 1)
    multi = (freqs.filter(F.length("piece") >= 2)
             .orderBy(F.col("freq").desc(), F.col("piece"))
             .limit(vocab_size))
    sel = chars.unionByName(multi)
    tot = sel.agg(F.sum("freq").cast("double").alias("__tot"))
    out = (sel.join(F.broadcast(tot))
           .select("piece", "freq",
                   F.round(-F.log(F.col("freq") / F.col("__tot")), 6)
                   .alias("cost")))
    return out


#: cost of a character the unigram vocabulary lacks
UNK_COST = 20.0


def unigram_encode(df: DataFrame, id_col: str, text_col: str,
                   vocab: DataFrame) -> DataFrame:
    """Viterbi (min total cost) subword segmentation under a unigram
    LM vocabulary — SentencePiece's inference rule (Kudo, ACL 2018:
    the most probable segmentation under piece unigram probs), the
    third tokenizer tier next to ``wordpiece_encode`` (greedy maximal
    munch) and ``bpe_encode`` (learned merge replay).

    ``vocab`` is a ``(piece, cost)`` relation (``unigram_seed_vocab``
    or an EM-refined model). Characters missing from the vocabulary
    encode at ``UNK_COST`` — segmentation always succeeds.

    The DP runs ENTIRELY in Catalyst on the DISTINCT-WORD relation
    (vocabulary-sized, the bpe_encode discipline — higher-order
    functions are fine on bounded relations, never in per-corpus-row
    hot paths): per word, matching-piece candidates come from ONE
    broadcast equi-join on the substring (codegen), are packed into a
    sorted per-word array, and the Viterbi forward pass + backtrack
    are two array folds over word positions. Ties break to the
    earliest candidate in (end, start) order — i.e. the LONGEST piece
    reaching a position — via strict-< comparison, identically in the
    SQL twin. Candidate path costs round to 6 at every accumulation.

    Word occurrences then rejoin their piece arrays and re-assemble
    per document in word order (the bpe_encode tail). Returns
    ``(id, pieces array<string>, n_pieces)``; docs with no words get
    an empty array.
    """
    w = df.select(F.col(id_col),
                  F.posexplode(_words(F.col(text_col)))
                  .alias("__wp", "__w"))
    # dw is deliberately NOT persisted (r13, measured): caching it
    # freezes a pessimistic size estimate on the pieces subtree and
    # flips the occurrence join from broadcast to sort-merge —
    # shuffle rows rose 10.6k -> 100k at sf0.1. Its two replays are a
    # corpus explode + a tiny distinct exchange each (the accepted
    # two-pass shape); the multiplicative replay this function kills
    # is the VOCAB lineage, cached below.
    dw = (w.select(F.col("__w").alias("w")).distinct()
          .withColumn("n", F.length("w")))
    # the vocab relation is model-sized and referenced three times
    # (max-piece-length probe + both candidate legs); cache it so its
    # lineage — which may itself scan the corpus, e.g. a seed vocab —
    # is evaluated exactly once, at the eager probe below (r13)
    vocab = persist(vocab)
    max_l = vocab.agg(F.max(F.length("piece"))).collect()[0][0] or 1
    pieces = _viterbi_pieces(dw, vocab, UNK_COST, int(max_l))
    joined = w.join(pieces, w["__w"] == pieces["w"]).drop("w")
    agg = (joined.groupBy(id_col)
           .agg(F.flatten(F.transform(
               F.array_sort(F.collect_list(
                   F.struct("__wp", "__pieces"))),
               lambda s: s["__pieces"])).alias("pieces")))
    out = (df.select(id_col).join(agg, id_col, "left")
           .select(F.col(id_col),
                   F.coalesce("pieces", F.array().cast("array<string>"))
                   .alias("pieces"))
           .withColumn("n_pieces", F.size("pieces")))
    return out


def _viterbi_pieces(dw: DataFrame, vocab: DataFrame, unk_cost: float,
                    max_l: int) -> DataFrame:
    """Shared Viterbi core: per distinct word (``dw``: (w, n)) the
    min-cost segmentation under ``vocab`` (piece, cost) — candidates
    from one broadcast substring equi-join, forward DP + backtrack as
    two array folds (see ``unigram_encode`` for the full contract).
    Returns ``(w, __pieces array<string>)``."""
    vsel = vocab.select(F.col("piece"), F.col("cost"))
    multi = (dw.select("w", "n",
                       F.explode_outer(F.sequence(F.lit(1), F.col("n")))
                       .alias("__i"))
             .filter(F.col("n") - F.col("__i") >= 1)
             .select("w", "__i",
                     F.explode_outer(F.sequence(
                         F.lit(2),
                         F.least(F.lit(int(max_l)),
                                 F.col("n") - F.col("__i") + 1)))
                     .alias("__l"))
             .select("w", (F.col("__i") - 1).alias("s"),
                     (F.col("__i") - 1 + F.col("__l")).alias("e"),
                     F.substr(F.col("w"), F.col("__i"), F.col("__l"))
                     .alias("piece"))
             .join(F.broadcast(vsel.filter(F.length("piece") >= 2)),
                   "piece")
             .select("w", "s", "e", "cost"))
    singles = (dw.select("w",
                         F.explode_outer(F.sequence(F.lit(1),
                                                    F.col("n")))
                         .alias("__i"))
               .select("w", (F.col("__i") - 1).alias("s"),
                       F.col("__i").alias("e"),
                       F.substr(F.col("w"), F.col("__i"), F.lit(1))
                       .alias("piece"))
               .join(F.broadcast(vsel.filter(F.length("piece") == 1)),
                     "piece", "left")
               .select("w", "s", "e",
                       F.coalesce("cost", F.lit(float(unk_cost)))
                       .alias("cost")))
    cand = multi.unionByName(singles)
    carr = cand.groupBy("w").agg(
        F.sort_array(F.collect_list(
            F.struct(F.col("e"), F.col("s"), F.col("cost"))))
        .alias("__cand"))
    base = dw.join(carr, "w")
    dp = F.aggregate(
        F.sequence(F.lit(1), F.col("n")),
        F.array(F.struct(F.lit(0.0).alias("c"), F.lit(-1).alias("b"))),
        lambda acc, j: F.concat(acc, F.array(
            F.aggregate(
                F.filter(F.col("__cand"), lambda cd: cd["e"] == j),
                F.struct(F.lit(1e18).alias("c"), F.lit(-1).alias("b")),
                lambda best, cd: F.when(
                    F.round(F.element_at(acc, cd["s"] + 1)["c"]
                            + cd["cost"], 6) < best["c"],
                    F.struct(
                        F.round(F.element_at(acc, cd["s"] + 1)["c"]
                                + cd["cost"], 6).alias("c"),
                        cd["s"].alias("b"))).otherwise(best)))))
    # materialize dp BEFORE the backtrack references it: Catalyst does
    # not CSE through lambdas (the repo-wide 25x lesson)
    dped = base.withColumn("__dp", dp)
    bt = F.aggregate(
        F.sequence(F.lit(1), F.col("n")),
        F.struct(F.col("n").alias("p"),
                 F.array().cast("array<string>").alias("ps")),
        lambda st, _x: F.when(st["p"] <= 0, st).otherwise(
            F.struct(
                F.element_at(F.col("__dp"), st["p"] + 1)["b"].alias("p"),
                F.concat(
                    F.array(F.substr(
                        F.col("w"),
                        F.element_at(F.col("__dp"), st["p"] + 1)["b"]
                        + 1,
                        st["p"] - F.element_at(F.col("__dp"),
                                               st["p"] + 1)["b"])),
                    st["ps"]).alias("ps"))))
    return dped.select("w", bt["ps"].alias("__pieces"))


def unigram_train(df: DataFrame, text_col: str, vocab_size: int = 200,
                  max_piece_len: int = 4, n_iters: int = 2,
                  reliable: bool = False) -> DataFrame:
    """Unigram-LM tokenizer TRAINING (hard-EM over Viterbi
    segmentations — Kudo, ACL 2018 §3.2 with Viterbi counts in place
    of full lattice expectations): start from the substring-frequency
    seed (``unigram_seed_vocab``), then iterate

      E-step: Viterbi-segment every DISTINCT word under the current
              piece costs (``_viterbi_pieces`` — the same DP
              ``unigram_encode`` serves);
      M-step: piece counts = Σ_word corpus_freq(word) × uses-in-word;
              multi-char pieces that won ZERO Viterbi uses are PRUNED
              (the unigram trainer's vocabulary shrinkage); single
              chars always survive with a count floor of 1 (the
              encoder's closure guarantee); new cost =
              round(−ln(count / total), 6) over the retained set.

    Every relation in the LOOP is vocabulary-sized — the corpus is
    touched only by the word-count pass and the seed's substring pass
    (both one map-side-combined shuffle); per-iteration state
    (``localCheckpoint``; ``reliable=True`` → HDFS ``checkpoint``) is
    the (piece, count, cost) model, so driver state is zero rows.

    Returns the final ``(piece, count, cost)`` model —
    ``unigram_encode``'s vocabulary input. Deterministic across
    partitionings and engines: integer counts, 6-rounded costs, and
    the encode DP's deterministic tie-breaks make every EM iterate
    exactly reproducible (the SQL twin replays all of it).
    """
    if n_iters < 1:
        raise ValueError(f"n_iters must be >= 1, got {n_iters}")

    def mat(d: DataFrame) -> DataFrame:
        return d.checkpoint(eager=True) if reliable else \
            d.localCheckpoint(eager=True)

    w = (df.select(F.explode_outer(_words(F.col(text_col)))
                   .alias("__w"))
         .filter(F.col("__w").isNotNull()))
    words = mat(w.groupBy("__w").agg(F.count("*").alias("__wf")))
    dw = (words.select(F.col("__w").alias("w"), F.col("__wf"))
          .withColumn("n", F.length("w")))
    # the eager checkpoint evaluates the seed exactly once; its
    # internal cache has no further consumer once the scope exits
    with cache_scope():
        seed = unigram_seed_vocab(df, text_col, vocab_size,
                                  max_piece_len, cache_freqs=True)
        vocab = mat(seed.select("piece", F.col("freq").alias("count"),
                                "cost"))
    for _ in range(n_iters):
        segs = _viterbi_pieces(dw.select("w", "n"), vocab,
                               unk_cost=1e9, max_l=max_piece_len)
        used = (dw.join(segs, "w")
                .select("__wf", F.explode("__pieces").alias("piece"))
                .groupBy("piece")
                .agg(F.sum("__wf").alias("count")))
        chars = (vocab.filter(F.length("piece") == 1)
                 .select("piece").join(used, "piece", "left")
                 .select("piece",
                         F.greatest(F.coalesce("count",
                                               F.lit(0).cast("bigint")),
                                    F.lit(1).cast("bigint"))
                         .alias("count")))
        multi = used.filter(F.length("piece") >= 2)
        sel = chars.unionByName(multi)
        tot = sel.agg(F.sum("count").cast("double").alias("__tot"))
        vocab = mat(sel.join(F.broadcast(tot))
                    .select("piece", "count",
                            F.round(-F.log(F.col("count")
                                           / F.col("__tot")), 6)
                            .alias("cost")))
    return vocab


def tokenizer_fertility(docs: DataFrame, encoded: DataFrame,
                        id_col: str, text_col: str,
                        strata_col: str) -> DataFrame:
    """Tokenizer fertility audit (the SentencePiece/multilingual-
    tokenizer eval: Rust et al., ACL 2021 §3 "fertility" = subwords
    per word): per stratum (language / source), how hard the tokenizer
    fragments text — ``fertility = pieces/word`` and
    ``chars_per_piece`` (compression). A tokenizer trained on skewed
    data shows fertility ≫ 1 on the underrepresented strata; this is
    the standard audit before committing a vocab to a multilingual
    corpus.

    ``encoded`` is any encoder output in the ``(id, pieces,
    n_pieces)`` shape (``bpe_encode`` / ``wordpiece_encode`` /
    ``unigram_encode`` all qualify — the audit is
    tokenizer-agnostic). Output per stratum: ``(stratum, n_docs,
    n_words, n_pieces, fertility, chars_per_piece)``; word and char
    counts use the shared ``[a-z0-9_]`` token alphabet so the
    denominator matches what the encoders actually segment. Strata
    with zero words report NULL ratios.

    Scale: one zero-shuffle projection per side, one id-equi join,
    ONE map-side-combined aggregation to |strata| rows.
    """
    base = docs.select(
        F.col(id_col), F.col(strata_col).alias("stratum"),
        F.size(_words(F.col(text_col))).cast("bigint").alias("__nw"),
        F.length(F.regexp_replace(simple_lower(F.col(text_col)),
                                  r"[^a-z0-9_]", ""))
        .cast("bigint").alias("__nc"))
    enc = encoded.select(F.col(id_col),
                         F.col("n_pieces").cast("bigint").alias("__np"))
    j = base.join(enc, id_col)
    return (j.groupBy("stratum")
            .agg(F.count("*").alias("n_docs"),
                 F.sum("__nw").alias("n_words"),
                 F.sum("__np").alias("n_pieces"),
                 F.when(F.sum("__nw") > 0,
                        F.round(F.sum("__np").cast("double")
                                / F.sum("__nw"), 6)).alias("fertility"),
                 F.when(F.sum("__np") > 0,
                        F.round(F.sum("__nc").cast("double")
                                / F.sum("__np"), 6))
                 .alias("chars_per_piece")))
