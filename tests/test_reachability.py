"""Every public name in the package is reached from a root.

A static guard over the package's AST. The roots are the surfaces the
engine is run through:

- every query registered with ``@register`` (``plans/analytics.py``);
- the jobs CLI (``plans/jobs.main``) and the serving app
  (``serving/api.create_app`` and ``run_named_source``);
- the corpus batch job (``run_corpus_prep``) and the news stream
  (``stream_news_to_table``);
- every module-level statement of a package module other than an import;
- the whole of ``bench.py``, ``__spark_entry__.py``, ``tools/*.py`` and
  ``perfbench/*.py``.

Reach is by name: a reached body reaches every top-level function or
class whose name it mentions (as a name, an attribute or an imported
name; in the root scripts, also as a string, which is how the perfbench
tracer wraps functions), and every method of a reached class whose name
it mentions. A public (non-underscore) function, class or method of a
reached class that no root reaches must sit on ``ALLOWLIST`` with a
one-line reason, and an entry whose name no longer exists, or is now
reached, is stale. The same kind of dead entry is checked for in the
conftest's ``scale``-tier name list, and so is a module-level import that
its module never uses.
"""

import ast
import glob
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(ROOT, "tradingview_data_pipeline_spark")

ROOT_FUNCS = {("plans/jobs.py", "main"),
              ("serving/api.py", "create_app"),
              ("serving/api.py", "run_named_source"),
              ("plans/corpus_pipeline.py", "run_corpus_prep"),
              ("streaming/news_dedup.py", "stream_news_to_table")}
ROOT_SCRIPTS = ("bench.py", "__spark_entry__.py", "tools/*.py", "perfbench/*.py")
FUNCS = (ast.FunctionDef, ast.AsyncFunctionDef)
DEFS = FUNCS + (ast.ClassDef,)

TESTED = "tested operator that no query, job or workload runs yet"
ALLOWLIST = {
    # functions/, operators/__init__: the reference's cleaning and scoring
    # helpers, re-exported as the package API (imports are not roots)
    "clean_value": "Column form of the reference's clean_value; ingest uses the SQL form",
    "clean_string": "Column form of the reference's clean_string; ingest uses the SQL form",
    "clean_long": "re-exported cleaning helper (functions/__init__)",
    "scale_volatility": "re-exported cleaning helper (functions/__init__)",
    "unscale_volatility": "re-exported cleaning helper (functions/__init__)",
    "group_zscore": "re-exported scoring operator (operators/__init__)",
    "hierarchical_coalesce": "re-exported scoring operator (operators/__init__)",
    "blend_with_default": "re-exported scoring operator (operators/__init__)",
    # reference surfaces kept for parity (SURVEY §2)
    "write_csv_backup": "K6: the reference's CSV backup sink",
    "sniff_delimiter": "S3: the reference's delimiter sniffing",
    "jdbc_partitioned_scan": "S4: the reference's paged PostgREST read, as a JDBC scan",
    "host_allowed": "serving auth primitive: TrustedHost predicate, testable without fastapi",
    "cors_headers": "serving auth primitive: CORS predicate, testable without fastapi",
    "QualityGateError": "data-quality gate; only stream_csv_to_table raises it",
    "enforce": "data-quality gate; only stream_csv_to_table calls it",
    "not_null": "data-quality rule for quality.enforce",
    "in_range": "data-quality rule for quality.enforce",
    "matches": "data-quality rule for quality.enforce",
    # streaming operators beside the news stream
    "stream_csv_to_table": "streaming CSV ingest into a MERGE table; no job starts it",
    "streaming_ema_macd": "streaming EMA/MACD; tests pin it equal to the batch form",
    "view_click_stream_join": "stream-stream join; tests pin it equal to the batch join",
    "running_entity_stats": "stateful streaming aggregate with event-time eviction",
    # warehouse layout and export
    "write_bucketed": "bucketed managed-table layout for co-joined pairs (SCALING join story)",
    "bucketed": "reader for write_bucketed tables",
    "write_clustered": "export range clustering: " + TESTED,
    "zone_maps": "export row-group statistics: " + TESTED,
    "prunable_fraction": "export pruning measure over zone_maps: " + TESTED,
    "zorder_value": "export z-order key: " + TESTED,
    "write_zordered": "export z-order layout: " + TESTED,
    "apply_changelog": "CDC changelog replay: " + TESTED,
    "rows_in_buckets": "fingerprint re-scan of differing buckets: " + TESTED,
    "changelog_fingerprint_delta": "fingerprint delta from a changelog: " + TESTED,
    "apply_fingerprint_delta": "fingerprint delta apply: " + TESTED,
    # analytics operators
    "pagerank": "iterative graph operator, not SQL-oracle expressible: " + TESTED,
    "robust_scale": "grouped-map (applyInPandas) escape hatch: " + TESTED,
    "salted_broadcast_left": "skew-join salting: " + TESTED,
    "hll_profile": "sketch: " + TESTED,
    "hll_merge": "sketch: " + TESTED,
    "hll_estimate": "sketch: " + TESTED,
    "cms_build": "sketch: " + TESTED,
    "cms_estimate": "sketch: " + TESTED,
    "grouped_quantiles_approx": "sketch: " + TESTED,
    "bloom_parameters": "Bloom filter sizing rule: " + TESTED,
    # training-data operators
    "exact_dedup_groups": "exact-dedup report form of drop_exact_duplicates: " + TESTED,
    "with_minhash_signature": "array-form MinHash, pinned equal to the long form: " + TESTED,
    "minhash_signatures_long": "long-form MinHash signatures: " + TESTED,
    "simhash": "Column-form SimHash: " + TESTED,
    "suggest_minhash_bands": "LSH band sizing rule: " + TESTED,
    "contrastive_triplets": "contrastive training triplets: " + TESTED,
    "dup_span_profile": "duplicate-span profile; q72 runs remove_dup_spans: " + TESTED,
    "token_rarity_profile": "rarity profile; a query runs its stats half: " + TESTED,
    "bigram_lm_profile": "bigram LM profile; a query runs its stats half: " + TESTED,
    "repetition_profile": "repetition profile; q75 runs with_repetition_signals: " + TESTED,
    "lang_id_table": "two-phase language ID: " + TESTED,
    "luhn_valid": "card-number PII check: " + TESTED,
    "strip_markup": "HTML boilerplate scrub: " + TESTED,
    "hashed_ngram_dist": "DSIR n-gram distribution: " + TESTED,
    "importance_weights": "DSIR importance weights: " + TESTED,
    "bernoulli_hash_sample": "sampling: " + TESTED,
    "weighted_sample_k": "sampling: " + TESTED,
    "temperature_weights": "sampling: " + TESTED,
    "quality_buckets": "sampling: " + TESTED,
    "pack_first_fit": "sequence packing: " + TESTED,
    "mlm_mask": "masked-LM corruption: " + TESTED,
    "span_corruption": "T5 span corruption: " + TESTED,
    "load_merges": "BPE artifact reload: " + TESTED,
    "load_vocab": "BPE artifact reload: " + TESTED,
    "fertility_profile": "tokenizer fertility: " + TESTED,
    "cosine": "Column-form cosine: " + TESTED,
    "PcaModel": "batch PCA artifact: " + TESTED,
    "pca_fit": "batch PCA; q81 mirrors its moment half: " + TESTED,
    "pca_project": "batch PCA projection: " + TESTED,
    "save_pca": "batch PCA artifact save: " + TESTED,
    "load_pca": "batch PCA artifact load: " + TESTED,
    "random_projection": "JL random projection: " + TESTED,
    "SourceRegistry.register_views": "exposes every source to spark.sql; no caller yet",
    "UserStore.add_user": "serving auth primitive: the user store behind POST /auth/token",
    # media operators
    "register_decoder": "media decoder hook for a real image library",
    "extract_image_features": "media: " + TESTED,
    "resize_spec": "media: " + TESTED,
    "frame_sample_plan": "media: " + TESTED,
    "make_fake_media": "media fixture generator for plumbing tests",
    "image_dhash": "media near-dup: " + TESTED,
    "image_near_dups": "media near-dup: " + TESTED,
    "media_dedup": "media near-dup pipeline: " + TESTED,
    "audio_fingerprint": "audio near-dup: " + TESTED,
    "audio_near_dups": "audio near-dup: " + TESTED,
    "audio_near_dups_ber": "audio near-dup: " + TESTED,
    "decode_ppm": "media codec: " + TESTED,
    "resize_nearest": "media codec: " + TESTED,
    "thumb_feature": "media codec: " + TESTED,
    "ppm_image_decoder": "media codec: " + TESTED,
    "frame_rms": "media codec: " + TESTED,
}


def _parse(path):
    with open(path) as fh:
        return ast.parse(fh.read(), path)


def _mentions(node, strings: bool = False) -> set:
    """Every identifier a subtree mentions."""
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.ImportFrom):
            out |= {a.name for a in n.names}
        elif strings and isinstance(n, ast.Constant) and isinstance(n.value, str) \
                and n.value.isidentifier():
            out.add(n.value)
    return out


def _is_registered(node) -> bool:
    return any(isinstance(d, ast.Call) and _mentions(d.func) & {"register"}
               for d in getattr(node, "decorator_list", ()))


def _own(node) -> set:
    """What a def mentions; for a class, without its methods' bodies."""
    if not isinstance(node, ast.ClassDef):
        return _mentions(node)
    parts = node.decorator_list + node.bases + node.keywords + \
        [s for s in node.body if not isinstance(s, FUNCS)]
    return set().union(*map(_mentions, parts))


def _package():
    """({name or Class.method: [def node, ...]}, root nodes) over every
    package module."""
    defs, roots = {}, []
    for path in sorted(glob.glob(os.path.join(PKG, "**", "*.py"), recursive=True)):
        rel = os.path.relpath(path, PKG)
        for node in _parse(path).body:
            if isinstance(node, DEFS):
                defs.setdefault(node.name, []).append(node)
                if isinstance(node, ast.ClassDef):
                    for m in node.body:
                        if isinstance(m, FUNCS):
                            defs.setdefault(f"{node.name}.{m.name}", []).append(m)
                if (rel, node.name) in ROOT_FUNCS or _is_registered(node):
                    roots.append(node)
            elif not isinstance(node, (ast.Import, ast.ImportFrom)):
                roots.append(node)
    return defs, roots


def _reached(defs, roots) -> set:
    """Keys of ``defs`` reached from the roots. A top-level def is reached
    once a reached body mentions its name; a method once its class is
    reached and a reached body mentions its name (dunders come with the
    class)."""
    seen = set()
    for pattern in ROOT_SCRIPTS:
        for path in glob.glob(os.path.join(ROOT, pattern)):
            seen |= _mentions(_parse(path), strings=True)
    for node in roots:
        seen |= _mentions(node) | ({node.name} if isinstance(node, DEFS) else set())
    reached, grew = set(), True
    while grew:
        grew = False
        for key, nodes in defs.items():
            cls, _, name = key.rpartition(".")
            if key in reached or (cls and cls not in reached):
                continue
            if name in seen or (cls and name.startswith("__")):
                reached.add(key)
                grew = True
                for node in nodes:
                    seen |= _own(node)
    return reached


def _unreached():
    """(defs, public keys no root reaches); a method counts only once its
    class is reached, so an allowlisted class covers its methods."""
    defs, roots = _package()
    reached = _reached(defs, roots)
    return defs, {k for k in defs if k not in reached
                  and not k.rpartition(".")[2].startswith("_")
                  and k.rpartition(".")[0] in reached | {""}}


def test_every_public_name_is_reached_or_allowlisted():
    _, unreached = _unreached()
    missing = sorted(unreached - ALLOWLIST.keys())
    assert not missing, ("public names no root reaches; call them from a root, "
                         f"delete them, or allowlist them with a reason: {missing}")


def test_allowlist_is_not_stale():
    defs, unreached = _unreached()
    gone = sorted(ALLOWLIST.keys() - defs.keys())
    live = sorted((ALLOWLIST.keys() & defs.keys()) - unreached)
    assert not gone, f"allowlisted names that no longer exist: {gone}"
    assert not live, f"allowlisted names a root now reaches: {live}"
    assert all(reason.strip() for reason in ALLOWLIST.values())


def test_scale_tier_names_are_defined_tests():
    """``conftest._SCALE_TESTS`` marks tests by bare name, so a renamed or
    deleted test would leave a dead entry behind."""
    conftest = _parse(os.path.join(ROOT, "tests", "conftest.py"))
    scale = next(ast.literal_eval(n.value) for n in conftest.body
                 if isinstance(n, ast.Assign) and n.targets[0].id == "_SCALE_TESTS")
    defined = set()
    for pattern in ("tests/*.py", "perfbench/*.py"):
        for path in glob.glob(os.path.join(ROOT, pattern)):
            defined |= {n.name for n in ast.walk(_parse(path))
                        if isinstance(n, ast.FunctionDef) and n.name.startswith("test_")}
    assert not scale - defined, \
        f"scale-tier names with no test behind them: {sorted(scale - defined)}"


def _unused_imports(tree) -> list:
    """(line, name) of each module-level import the module never mentions
    as a name; a name listed in ``__all__`` is a re-export, not unused."""
    bound = {}
    for node in tree.body:
        if isinstance(node, ast.Import):
            bound.update({(a.asname or a.name).split(".")[0]: node.lineno
                          for a in node.names})
        elif isinstance(node, ast.ImportFrom) and node.module != "__future__":
            bound.update({a.asname or a.name: node.lineno for a in node.names})
    used = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
    for node in tree.body:
        if isinstance(node, ast.Assign) and any(
                getattr(t, "id", None) == "__all__" for t in node.targets):
            used |= set(ast.literal_eval(node.value))
    return sorted((line, name) for name, line in bound.items() if name not in used)


def test_package_modules_use_every_import():
    unused = []
    for path in sorted(glob.glob(os.path.join(PKG, "**", "*.py"), recursive=True)):
        rel = os.path.relpath(path, PKG)
        unused += [f"{rel}:{line} {name}" for line, name in _unused_imports(_parse(path))]
    assert not unused, f"module-level imports their module never uses: {unused}"
