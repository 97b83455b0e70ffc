"""Property-based tests for the round-8 text operators: random
multi-line documents must produce identical results from the Spark
expressions and a direct pure-Python transcription of the documented
semantics.

The repetition signals compare on xxhash64 of lines/grams while the
reference compares the strings themselves — hash-collision probability
is ~items²/2⁶⁵ per doc, zero over this test's lifetime.  Alphabet stays
ASCII so Java ``\\s``/``trim`` and Python ``\\S``/``strip`` agree (the
engine's Unicode-whitespace behavior is pinned separately in the BPE
NBSP regression test).

One Spark round trip per hypothesis example (a batch of documents per
job), following the test_property_cleaning pattern.
"""

import re
from collections import Counter

import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from tradingview_data_pipeline_spark.operators import corpus as cp

WORDS = ["aa", "bb", "cc", "dd", "spam", "x"]

line = st.one_of(
    st.lists(st.sampled_from(WORDS), min_size=0, max_size=5).map(" ".join),
    st.sampled_from(["", " ", "\t", "  aa", "aa  ", " aa bb "]),
)
doc = st.lists(line, min_size=0, max_size=10).map("\n".join)


_WS = set(" \t\f\r\x0b")      # the operator's explicit blank char set


def ref_dedupe_lines(text):
    out, seen = [], set()
    for l in text.split("\n"):
        if set(l) <= _WS:
            out.append(l)
        elif l not in seen:
            seen.add(l)
            out.append(l)
    return "\n".join(out)


def ref_signals(text):
    # the signals use SQL trim = SPACES only (oracle-mirrored); a
    # tab-only line counts as content there — deliberate asymmetry
    # with dedupe_lines' whitespace-set blank, documented in corpus.py
    lines = [x.strip(" ") for x in text.split("\n")]
    lines = [x for x in lines if x != ""]
    lc = Counter(lines)
    n_lines = len(lines)
    nd = len(lc)
    tot_chars = sum(len(x) for x in lines)
    dup_chars = sum(len(x) for x in lines if lc[x] >= 2)
    toks = re.findall(r"\S+", text)

    def grams(n):
        return ([" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)]
                if len(toks) >= n else [])

    g2, g5 = Counter(grams(2)), Counter(grams(5))
    n2, n5 = sum(g2.values()), sum(g5.values())
    top2 = max(g2.values()) if g2 else 0
    dup5 = sum(c for c in g5.values() if c >= 2)

    def frac(a, b):
        return a / b if b else 0.0

    return (n_lines, frac(n_lines - nd, n_lines), frac(dup_chars, tot_chars),
            frac(top2, n2), frac(dup5, n5))


@settings(max_examples=10, deadline=None)
@given(st.lists(doc, min_size=1, max_size=30))
def test_dedupe_lines_matches_reference(spark, docs):
    sdf = spark.createDataFrame(list(enumerate(docs)), "i long, text string")
    got = {r["i"]: r["clean"] for r in
           cp.dedupe_lines(sdf, "text", out_col="clean").collect()}
    for i, d in enumerate(docs):
        assert got[i] == ref_dedupe_lines(d), (d, got[i])


def ref_bigram_lm(docs, scale=1_000_000):
    import math

    bg, c1, per_doc = Counter(), Counter(), []
    for d in docs:
        ws = re.findall(r"\S+", d)
        pairs = list(zip(ws, ws[1:]))
        per_doc.append(pairs)
        for p in pairs:
            bg[p] += 1
            c1[p[0]] += 1
    return [(len(ps), sum(math.floor(float(scale) * bg[p] / c1[p[0]])
                          for p in ps))
            for ps in per_doc]


@settings(max_examples=10, deadline=None)
@given(st.lists(doc, min_size=1, max_size=30))
def test_bigram_lm_profile_matches_reference(spark, docs):
    from tradingview_data_pipeline_spark.operators import pins

    def stored():
        return {i.id(): i.storageLevel()
                for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()}

    sdf = spark.createDataFrame(list(enumerate(docs)), "i long, text string")
    before = stored()
    out = cp.bigram_lm_profile(sdf, "i", "text")
    got = {r["i"]: (r["n_bigrams"], r["bigram_score"]) for r in
           out.collect()}
    exp = ref_bigram_lm(docs)
    for i, d in enumerate(docs):
        assert got[i] == exp[i], (d, got[i], exp[i])
    # the shared pre-aggregate is pinned DISK_ONLY (off the execution
    # memory pool) while the query runs...
    new = [lv for rid, lv in stored().items() if rid not in before]
    assert all(lv.useDisk() and not lv.useMemory() for lv in new)
    assert new or not any(n for n, _ in got.values())
    # ...and the session registry tracks it (harnesses bulk-release
    # between queries; release_all is idempotent on already-released)
    assert pins.release_all() >= 1
    assert pins.release_all() == 0


def ref_dedupe_lines_global(docs, min_docs=2, keep="none"):
    prevalence, owner = Counter(), {}
    for i, d in enumerate(docs):
        for l in {l for l in d.split("\n") if not set(l) <= _WS}:
            prevalence[l] += 1
            owner.setdefault(l, i)          # docs scanned in id order
    hot = {l for l, c in prevalence.items() if c >= min_docs}
    return ["\n".join(
        l for l in d.split("\n")
        if set(l) <= _WS or l not in hot
        or (keep == "min_doc" and owner[l] == i))
        for i, d in enumerate(docs)]


@settings(max_examples=10, deadline=None)
@given(st.lists(doc, min_size=1, max_size=30),
       st.sampled_from([2, 3]),
       st.sampled_from(["none", "min_doc"]))
def test_dedupe_lines_global_matches_reference(spark, docs, min_docs, keep):
    sdf = spark.createDataFrame(list(enumerate(docs)), "i long, text string")
    got = {r["i"]: r["clean"] for r in cp.dedupe_lines_global(
        sdf, "i", "text", min_docs=min_docs, keep=keep,
        out_col="clean").collect()}
    exp = ref_dedupe_lines_global(docs, min_docs, keep)
    for i, d in enumerate(docs):
        assert got[i] == exp[i], (min_docs, keep, d, got[i], exp[i])


@settings(max_examples=10, deadline=None)
@given(st.lists(doc, min_size=1, max_size=30))
def test_repetition_signals_match_reference(spark, docs):
    sdf = spark.createDataFrame(list(enumerate(docs)), "i long, text string")
    got = {r["i"]: r for r in
           cp.repetition_profile(sdf, "i", "text").collect()}
    for i, d in enumerate(docs):
        exp = ref_signals(d)
        r = got[i]
        vals = (r["n_lines"], r["dup_line_frac"], r["dup_line_char_frac"],
                r["top_2gram_frac"], r["dup_5gram_frac"])
        assert vals[0] == exp[0], (d, vals, exp)
        for v, e in zip(vals[1:], exp[1:]):
            assert v == pytest.approx(e, abs=0.0), (d, vals, exp)


@settings(max_examples=10, deadline=None)
@given(st.lists(doc, min_size=1, max_size=20),
       st.dictionaries(st.sampled_from(list(cp.REPETITION_SIGNALS)),
                       st.floats(min_value=0.0, max_value=1.0),
                       min_size=1, max_size=3))
def test_repetition_gate_agrees_with_signals(spark, docs, limits):
    """The pushdown-safe gate expression and the projected signals must
    make the same keep/drop decision for every doc and limit set."""
    sdf = spark.createDataFrame(list(enumerate(docs)), "i long, text string")
    kept = {r["i"] for r in sdf.where(
        cp.repetition_within_limits(F.col("text"), limits)).collect()}
    sig = {r["i"]: r for r in
           cp.repetition_profile(sdf, "i", "text").collect()}
    for i in range(len(docs)):
        expect = all(sig[i][name] <= mx for name, mx in limits.items())
        assert (i in kept) == expect, (docs[i], limits, sig[i])


word = st.sampled_from(["a", "b", "c", "d"])
word_doc = st.lists(word, min_size=0, max_size=12).map(" ".join)


def ref_remove_spans(docs, n, min_docs, keep_min_doc):
    words = {i: re.findall(r"\S+", t) for i, t in docs.items()}
    gram_docs = {}
    for i, ws in words.items():
        for p in range(len(ws) - n + 1):
            gram_docs.setdefault(" ".join(ws[p:p + n]), set()).add(i)
    owner = {g: min(ds) for g, ds in gram_docs.items()}
    out = {}
    for i, ws in words.items():
        covered = set()
        for p in range(len(ws) - n + 1):
            g = " ".join(ws[p:p + n])
            if len(gram_docs[g]) >= min_docs and \
                    not (keep_min_doc and owner[g] == i):
                covered.update(range(p, p + n))
        kept = [w for j, w in enumerate(ws) if j not in covered]
        out[i] = (" ".join(kept), len(ws), len(ws) - len(kept))
    return out


@settings(max_examples=10, deadline=None)
@given(st.lists(word_doc, min_size=1, max_size=12), st.booleans())
def test_remove_dup_spans_matches_reference(spark, texts, keep_min_doc):
    """Positional coverage, overlap merging, per-occurrence owner
    protection, and short-doc passthrough all follow from one reference
    model: cover every position under a >= min_docs-shared n-gram
    (except the min-doc owner's own occurrences in keep-one mode)."""
    docs = dict(enumerate(texts))
    sdf = spark.createDataFrame(list(docs.items()), "doc_id long, text string")
    got = {r["doc_id"]: (r["text_clean"], r["n_words"], r["n_removed"])
           for r in cp.remove_dup_spans(sdf, "doc_id", "text", n=3,
                                        min_docs=2,
                                        keep_min_doc=keep_min_doc).collect()}
    exp = ref_remove_spans(docs, 3, 2, keep_min_doc)
    assert got == exp, (texts, keep_min_doc)


def ref_rarity(docs):
    words = {i: re.findall(r"\S+", t) for i, t in docs.items()}
    dfc = Counter()
    for ws in words.values():
        for w in set(ws):
            dfc[w] += 1
    out = {}
    for i, ws in words.items():
        n = len(ws)
        if n == 0:
            out[i] = (0, 0.0, 0.0)
            continue
        out[i] = (n, sum(dfc[w] for w in ws) / n,
                  sum(1 for w in ws if dfc[w] == 1) / n)
    return out


@settings(max_examples=10, deadline=None)
@given(st.lists(word_doc, min_size=1, max_size=15))
def test_token_rarity_matches_reference(spark, texts):
    """Occurrence-weighted mean document frequency and rare fraction —
    both integer sums + one terminal IEEE division, so equality is
    exact, not approximate."""
    docs = dict(enumerate(texts))
    sdf = spark.createDataFrame(list(docs.items()), "doc_id long, text string")
    got = {r["doc_id"]: (r["n_tokens"], r["mean_token_df"], r["rare_frac"])
           for r in cp.token_rarity_profile(sdf, "doc_id", "text").collect()}
    assert got == ref_rarity(docs), texts


# --- pack_token_sequences vs a direct concat-and-chunk model -------------


def ref_pack_sequences(docs, seq_len, pad_id=None):
    """(grp, seq_id) -> (ids, spans): concatenate per group in doc-id
    order, chunk every seq_len; drop or pad the tail."""
    out = {}
    by_grp = {}
    for did, grp, ids in sorted(docs):
        if ids:
            by_grp.setdefault(grp, []).append((did, ids))
    for grp, ds in by_grp.items():
        cur, spans, cur_spans, seq_id = [], [], [], 0
        for did, ids in ds:
            for tok in ids:
                if not cur_spans or cur_spans[-1][2] != did:
                    cur_spans.append([len(cur), 0, did])
                cur.append(tok)
                cur_spans[-1][1] += 1
                if len(cur) == seq_len:
                    out[(grp, seq_id)] = (cur, [tuple(s) for s in cur_spans])
                    cur, cur_spans = [], []
                    seq_id += 1
        if cur and pad_id is not None:
            out[(grp, seq_id)] = (
                cur + [pad_id] * (seq_len - len(cur)),
                [tuple(s) for s in cur_spans])
    return out


@settings(max_examples=10, deadline=None)
@given(st.lists(
    st.tuples(st.integers(0, 3),
              st.lists(st.integers(0, 9), min_size=0, max_size=13)),
    min_size=1, max_size=25),
    st.sampled_from([3, 7, 16]), st.booleans())
def test_pack_token_sequences_matches_model(spark, rows, seq_len, pad):
    from tradingview_data_pipeline_spark.operators import packing as pk

    docs = [(i, grp, ids) for i, (grp, ids) in enumerate(rows)]
    df = spark.createDataFrame(
        docs, "doc_id long, grp long, ids array<long>")
    got = pk.pack_token_sequences(
        df, "doc_id", "ids", seq_len, ["grp"],
        pad_id=-1 if pad else None).collect()
    exp = ref_pack_sequences(docs, seq_len, pad_id=-1 if pad else None)
    assert {(r["grp"], r["seq_id"]) for r in got} == set(exp)
    for r in got:
        ids, spans = exp[(r["grp"], r["seq_id"])]
        assert r["input_ids"] == ids
        assert [(s["start"], s["n"], s["doc"])
                for s in r["doc_spans"]] == spans
        assert r["n_real"] == sum(s[1] for s in spans)


# ---------------------------------------------------------------------------
# rrf_fuse vs a direct Python transcription of its documented semantics
# ---------------------------------------------------------------------------

rank_list = st.lists(st.integers(min_value=0, max_value=9),
                     min_size=1, max_size=8, unique=True)


@settings(max_examples=12, deadline=None)
@given(rank_list, rank_list)
def test_rrf_property_matches_python(spark, ids_a, ids_b):
    from tradingview_data_pipeline_spark.operators import retrieval as rt
    legs_py = {"a": {i: r + 1 for r, i in enumerate(ids_a)},
               "b": {i: r + 1 for r, i in enumerate(ids_b)}}
    scale, k = 10**12, 60
    expect = {}
    for i in set(ids_a) | set(ids_b):
        s = sum(scale // (k + m[i]) for m in legs_py.values() if i in m)
        expect[i] = s
    order = sorted(expect, key=lambda i: (-expect[i], i))
    legs = [(nm, spark.createDataFrame(
        [(i, r) for i, r in m.items()], "id long, rk long"))
        for nm, m in legs_py.items()]
    rows = rt.rrf_fuse(legs, ["id"], rrf_k=k, scale=scale).collect()
    assert {r["id"]: r["rrf_q"] for r in rows} == expect
    got_order = [r["id"] for r in sorted(rows, key=lambda r: r["fused_rk"])]
    assert got_order == order
