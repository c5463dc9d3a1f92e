"""The package surface: no definition and no option that only tests use.

Two AST scans over the non-test code — the package, ``tools/``,
``perfbench/``, ``__spark_entry__.py`` and ``bench.py``:

- ``definition_scan``: package functions, classes, methods (dunders
  aside) and module-level names that no non-test code loads, as an
  ``ast.Name``, an attribute, an import alias or an identifier-like
  string constant. Repeated without the bodies of the definitions
  already found until nothing new drops out.
- ``parameter_scan``: defaulted parameters of package ``def``s
  that no non-test call by that name passes by keyword, by position or
  through ``*args``/``**kw``. Repeated until nothing new drops out: a
  call that forwards a parameter already found (``f(x=x)`` inside a
  function whose ``x`` is test-only) does not count as passing it.

Each scan must return exactly its keep-dict below, where every entry
names why it stays. A new definition or option that only a test
reaches fails here: delete it, give it a non-test caller, or add it to
the keep-dict with its reason.

A third scan, ``harness_scan``, pins the one timing harness: across
``tools/*.py`` and ``bench.py``, only bench.py's ``registry``,
``session`` and ``new_stages`` may call ``get_spark(``, load
``__spark_entry__.py`` through ``spec_from_file_location`` or open a
status-REST ``/api/v1/`` URL. A tool that needs one of them calls the
harness instead of copying it.
"""

from __future__ import annotations

import ast
import pathlib
import re

ROOT = pathlib.Path(__file__).resolve().parents[1]
PKG = ROOT / "zacks_estimates_financial_statements_spark"
_IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*$")


def _sources() -> tuple[dict, dict]:
    pkg = {p: ast.parse(p.read_text()) for p in sorted(PKG.rglob("*.py"))}
    others = (sorted((ROOT / "tools").glob("*.py"))
              + sorted((ROOT / "perfbench").glob("*.py"))
              + [ROOT / "__spark_entry__.py", ROOT / "bench.py"])
    return pkg, {**pkg, **{p: ast.parse(p.read_text()) for p in others}}


def _module(path: pathlib.Path) -> str:
    return path.relative_to(PKG).with_suffix("").as_posix().replace("/", ".")


def definition_scan() -> list[str]:
    pkg, trees = _sources()
    defs = []   # (qualified name, name, node)
    for path, tree in pkg.items():
        mod = _module(path)
        for n in tree.body:
            if isinstance(n, (ast.FunctionDef, ast.ClassDef)):
                defs.append((f"{mod}.{n.name}", n.name, n))
                if isinstance(n, ast.ClassDef):
                    defs += [(f"{mod}.{n.name}.{m.name}", m.name, m)
                             for m in n.body
                             if isinstance(m, ast.FunctionDef)
                             and not m.name.startswith("__")]
            elif isinstance(n, (ast.Assign, ast.AnnAssign)):
                targets = n.targets if isinstance(n, ast.Assign) else [n.target]
                defs += [(f"{mod}.{t.id}", t.id, n) for t in targets
                         if isinstance(t, ast.Name)]
    dead: dict[str, ast.AST] = {}
    while True:
        skip = {id(node) for node in dead.values()}
        used: set[str] = set()
        stack = list(trees.values())
        while stack:
            n = stack.pop()
            if id(n) in skip:
                continue
            if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Load):
                used.add(n.id)
            elif isinstance(n, ast.Attribute):
                used.add(n.attr)
            elif isinstance(n, ast.alias):
                used.update({n.asname or "", n.name.split(".")[-1]})
            elif (isinstance(n, ast.Constant) and isinstance(n.value, str)
                  and _IDENT.match(n.value)):
                used.add(n.value)
            stack.extend(ast.iter_child_nodes(n))
        new = {q: node for q, name, node in defs
               if name not in used and q not in dead}
        if not new:
            return sorted(dead)
        dead.update(new)


def _defaulted(fn: ast.FunctionDef) -> list[tuple[int | None, str]]:
    """(position or None for keyword-only, name) of each defaulted
    parameter, leaving out ``x=x`` loop-variable bindings."""
    a = fn.args
    pos = a.posonlyargs + a.args
    first = len(pos) - len(a.defaults)
    out = [(i, x.arg) for i, x in enumerate(pos) if i >= first]
    out += [(None, x.arg) for x, d in zip(a.kwonlyargs, a.kw_defaults)
            if d is not None]
    binds = {x.arg for x, d in zip(pos[first:] + a.kwonlyargs,
                                   a.defaults + a.kw_defaults)
             if isinstance(d, ast.Name) and d.id == x.arg}
    return [o for o in out if o[1] not in binds]


def parameter_scan() -> list[str]:
    pkg, trees = _sources()
    defs = []   # (qualified name, function)

    def collect(node, prefix):
        for ch in ast.iter_child_nodes(node):
            if isinstance(ch, ast.FunctionDef):
                defs.append((prefix + ch.name, ch))
                collect(ch, prefix + ch.name + ".")
            elif isinstance(ch, ast.ClassDef):
                collect(ch, prefix + ch.name + ".")
            else:
                collect(ch, prefix)

    for path, tree in pkg.items():
        collect(tree, _module(path) + ".")
    classes = {n.name for t in trees.values() for n in ast.walk(t)
               if isinstance(n, ast.ClassDef)}
    calls = []  # (enclosing function or None, call)

    def walk(node, encl):
        for ch in ast.iter_child_nodes(node):
            if isinstance(ch, ast.Call):
                calls.append((encl, ch))
            walk(ch, ch if isinstance(ch, (ast.FunctionDef, ast.Lambda))
                 else encl)

    for tree in trees.values():
        walk(tree, None)
    dropped: set[tuple[int, str]] = set()   # (id(function), parameter)
    while True:
        passed: dict[str, set] = {}
        for encl, c in calls:
            f = c.func
            name = (f.id if isinstance(f, ast.Name)
                    else f.attr if isinstance(f, ast.Attribute) else None)
            if name is None:
                continue
            name = "__init__" if name in classes else name
            got = passed.setdefault(name, set())

            def live(v):
                return not (encl is not None and isinstance(v, ast.Name)
                            and (id(encl), v.id) in dropped)

            for i, arg in enumerate(c.args):
                if isinstance(arg, ast.Starred):
                    got.add("*")
                    break
                if live(arg):
                    got.add((i, isinstance(f, ast.Attribute)))
            for k in c.keywords:
                if k.arg is None:
                    got.add("*")
                elif live(k.value):
                    got.add(k.arg)
        new = set()
        for _q, fn in defs:
            got = passed.get(fn.name, set())
            if "*" in got:
                continue
            a0 = fn.args.posonlyargs + fn.args.args
            method = bool(a0) and a0[0].arg in ("self", "cls")
            for i, p in _defaulted(fn):
                hit = p in got or any(
                    isinstance(g, tuple)
                    and g[0] + (method and (g[1] or fn.name == "__init__"))
                    == i for g in got)
                if not hit and (id(fn), p) not in dropped:
                    new.add((id(fn), p))
        if not new:
            break
        dropped |= new
    return sorted(f"{q}({p})" for q, fn in defs for _i, p in _defaulted(fn)
                  if (id(fn), p) in dropped)


HARNESS = {"registry", "session", "new_stages"}


def harness_scan() -> list[str]:
    def strings(node):
        return [n.value for n in ast.walk(node)
                if isinstance(n, ast.Constant) and isinstance(n.value, str)]

    found = []
    for path in sorted((ROOT / "tools").glob("*.py")) + [ROOT / "bench.py"]:
        tree = ast.parse(path.read_text())
        allowed = set()
        if path.name == "bench.py":
            allowed = {id(n) for fn in tree.body
                       if isinstance(fn, ast.FunctionDef)
                       and fn.name in HARNESS for n in ast.walk(fn)}
        for n in ast.walk(tree):
            if id(n) in allowed:
                continue
            what = None
            if isinstance(n, ast.Call):
                f = n.func
                name = (f.id if isinstance(f, ast.Name)
                        else f.attr if isinstance(f, ast.Attribute) else "")
                if name == "get_spark":
                    what = "get_spark("
                elif name == "spec_from_file_location" and any(
                        "__spark_entry__" in v for v in strings(n)):
                    what = "loads __spark_entry__.py"
            elif (isinstance(n, ast.Constant) and isinstance(n.value, str)
                  and "/api/v1/" in n.value):
                what = "opens /api/v1/"
            if what:
                found.append(f"{path.relative_to(ROOT)}:{n.lineno} {what}")
    return found


def _keep(reason: str, *entries: str) -> dict[str, str]:
    return dict.fromkeys(entries, reason)


KEEP_DEFINITIONS = {
    **_keep("package metadata", "__init__.__version__"),
    **_keep("the reference's calendar re-export",
            "export.reexport_earnings_calendar"),
    **_keep("builds the BMFF payloads the video metadata and frame tests "
            "parse", "functions.codecs.encode_mp4_stub"),
    **_keep("builds the planted-duplicate image corpus of the media tests",
            "operators.multimodal.synthesize_image_corpus"),
    **_keep("reference form a kept fast or prefix form is tested against",
            "functions.vectors.sign_bits", "functions.vectors.sq_l2",
            "operators.similarity._unambiguous"),
    **_keep("reader/writer synchronisation: pins a version across a "
            "writer's flip and GC", "operators.writer.TableStore.snapshot"),
    **_keep("the reader handle the kept snapshot yields",
            "operators.writer._Snapshot"),
    **_keep("HTMLParser callback the standard library invokes",
            "parse.html._TreeBuilder.handle_data",
            "parse.html._TreeBuilder.handle_endtag",
            "parse.html._TreeBuilder.handle_startendtag",
            "parse.html._TreeBuilder.handle_starttag"),
    **_keep("read by the HTMLParser callbacks", "parse.html.VOID_TAGS"),
    **_keep("the document quarantine ROADMAP direction 3 wants in run "
            "manifests", "pipelines.estimate_pipeline.invalid_documents"),
    **_keep("the archive reader ROADMAP direction 2's backfill needs",
            "sources.raw_zone.read_archived_documents"),
}

_COLUMNS = "column name: the operator's input schema, not a behaviour option"
_FIXTURE = "fixture builder: shapes the synthetic media the tests decode"
_CAP = "work cap: tests lower it to reach the cap branch"
_RELIABLE = "reliable checkpoint so a job survives executor loss"
_SEAM = "test seam: tests substitute a fake"

KEEP_PARAMETERS = {
    **_keep("the runner calls it through `fn = X.dump_dat if ...`",
            "export.dump_dat(start_date)", "export.dump_dat(end_date)"),
    **_keep(_SEAM, "export.default_dump_window(today)", "export.publish(run)",
            "ingest.run_schedule(fetch)", "ingest.run_schedule(sleep)",
            "ingest.run_schedule(log)"),
    **_keep("CLI entry: None reads sys.argv; tests pass an argument list",
            "ingest.main(argv)", "runner.main(argv)"),
    **_keep("perfbench sets it through RUNNER_CALLS",
            "runner.run_statements(kinds)"),
    **_keep("mirrors run_statements(kinds=); the stream tests load one "
            "kind each", "streaming.raw_zone_stream.run_statements_stream"
            "(kinds)"),
    **_keep(_FIXTURE,
            "functions.codecs.encode_jpeg(subsampling)",
            "functions.codecs.encode_jpeg(restart_interval)",
            "functions.codecs.encode_mp4_stub(timescale)",
            "functions.codecs.encode_mp4_stub(brand)",
            "functions.codecs.encode_mp4_stub(with_audio)",
            "functions.codecs.encode_mp4_stub(version)",
            "functions.codecs.encode_mjpeg_mp4(brand)",
            "operators.multimodal.synthesize_image_corpus(width)",
            "operators.multimodal.synthesize_image_corpus(height)",
            "operators.multimodal.synthesize_hashable_audio(n_windows)"),
    **_keep(_CAP,
            "functions.tokenize.bpe_train(max_local_vocab)",
            "operators.dedup.incremental_minhash_pairs(max_prune_keys)",
            "operators.dedup.minhash_near_dup_pairs(max_bucket_size)",
            "operators.dedup.minhash_pairs_from_index(max_bucket_size)",
            "operators.dedup.simhash_near_dup_pairs(max_bucket_size)",
            "operators.dedup.hamming_near_dup_pairs(max_bucket_size)",
            "operators.dedup.ngram_jaccard_pairs(max_shingle_df)",
            "operators.dedup.containment_pairs(max_shingle_df)",
            "operators.dedup.embedding_near_dup_pairs(max_bucket_size)",
            "operators.dedup.semantic_dedup(max_cluster_size)",
            "operators.graph.connected_components(max_iter)",
            "operators.graph.connected_components(max_local_edges)",
            "operators.multimodal.media_near_dup_pairs(max_bucket_size)",
            "operators.similarity.unique_seed_prefix(prefetch)"),
    **_keep(_RELIABLE,
            "functions.tokenize.unigram_train(reliable)",
            "operators.curation.train_quality_classifier(reliable)",
            "operators.graph.connected_components(reliable)",
            "operators.graph.pagerank(reliable)",
            "operators.graph.incremental_components(reliable)",
            "operators.graph.label_propagation(reliable)"),
    **_keep(_COLUMNS,
            "functions.web.registrable_domain(suffix_col)",
            "operators.curation.leakage_safe_split(src)",
            "operators.curation.leakage_safe_split(dst)",
            "operators.graph.resolve_duplicate_clusters(src)",
            "operators.graph.resolve_duplicate_clusters(dst)",
            "operators.graph.pagerank(src)",
            "operators.graph.pagerank(dst)",
            "operators.graph.incremental_components(src)",
            "operators.graph.incremental_components(dst)",
            "operators.graph.label_propagation(src)",
            "operators.graph.label_propagation(dst)",
            "operators.multimodal.synthesize_image_corpus(id_col)",
            "operators.multimodal.synthesize_image_corpus(content_key_col)",
            "operators.multimodal.synthesize_hashable_images(id_col)",
            "operators.multimodal.synthesize_hashable_images"
            "(content_key_col)",
            "operators.multimodal.synthesize_hashable_videos(id_col)",
            "operators.multimodal.synthesize_hashable_videos"
            "(content_key_col)",
            "operators.multimodal.synthesize_hashable_audio(id_col)",
            "operators.multimodal.synthesize_hashable_audio(content_key_col)",
            "operators.retrieval.retrieval_metrics(query_col)",
            "operators.retrieval.retrieval_metrics(doc_col)",
            "operators.retrieval.retrieval_metrics(rank_col)",
            "operators.retrieval.retrieval_metrics(grade_col)",
            "operators.topics.topic_summaries(id_col)",
            "operators.topics.topic_summaries(text_col)",
            "operators.topics.topic_summaries(vec_id_col)",
            "operators.topics.topic_summaries(vec_col)",
            "sources.warc.parse_warc_blobs(path_col)",
            "sources.warc.parse_warc_blobs(content_col)",
            *[f"operators.similarity.{fn}({p})"
              for fn in ("topk_bruteforce", "topk_lsh", "topk_ivf",
                         "topk_pq_adc", "margin_topk")
              for p in ("id_col", "vec_col", "query_id_col",
                        "query_vec_col")],
            *[f"operators.similarity.{fn}({p})"
              for fn in ("ivf_build", "pq_codebook", "pq_encode")
              for p in ("id_col", "vec_col")],
            *[f"operators.similarity.mine_hard_negatives({p})"
              for p in ("id_col", "vec_col", "anchor_id_col",
                        "anchor_vec_col")]),
}


def test_no_definition_only_tests_reach():
    assert definition_scan() == sorted(KEEP_DEFINITIONS)


def test_no_option_only_tests_set():
    assert parameter_scan() == sorted(KEEP_PARAMETERS)


def test_one_timing_harness():
    assert harness_scan() == []
