"""Unit tests for the round-2 operator batch: as-of join, bucketed
interval join, deterministic sampling/splits, chunking, TF-IDF,
decontamination, and the quantized-centroid / k-means-assign pair.

Each test pins semantics on a small hand-checkable fixture (the oracle
gate covers the cross-engine numeric path; these cover edge cases the
synthetic tables don't hit: empty text, no-prior-match as-of rows,
duplicate timestamps, interval edges, split stability under growth).
"""

import datetime as dt

import pytest
from pyspark.sql import functions as F

from tradingview_data_pipeline_spark.operators import asof as aj
from tradingview_data_pipeline_spark.operators import corpus as cp
from tradingview_data_pipeline_spark.operators import sampling as sp
from tradingview_data_pipeline_spark.operators import similarity as sim


def ts(s):
    return dt.datetime.fromisoformat(s)


# --- as-of join ------------------------------------------------------------

def test_asof_join_basic_and_no_prior(spark):
    left = spark.createDataFrame(
        [(1, 1, ts("2024-01-01 10:00:00")),
         (2, 1, ts("2024-01-01 12:00:00")),
         (3, 2, ts("2024-01-01 09:00:00"))],  # user 2: no prior right row
        "event_id long, user_id long, ts timestamp")
    right = spark.createDataFrame(
        [(10, 1, ts("2024-01-01 09:30:00"), 5.0),
         (11, 1, ts("2024-01-01 11:00:00"), 7.0),
         (12, 2, ts("2024-01-01 09:30:00"), 9.0)],
        "click_id long, user_id long, click_ts timestamp, v double")
    out = aj.asof_join(left, right, on="user_id", left_time="ts",
                       right_time="click_ts", payload=["click_id", "v"],
                       tiebreak="click_id")
    got = {r["event_id"]: (r["click_id_asof"], r["v_asof"])
           for r in out.collect()}
    assert got == {1: (10, 5.0), 2: (11, 7.0), 3: (None, None)}


def test_asof_join_equal_ts_and_duplicate_right_ts(spark):
    t0 = ts("2024-01-01 10:00:00")
    left = spark.createDataFrame([(1, 1, t0)],
                                 "event_id long, user_id long, ts timestamp")
    right = spark.createDataFrame(
        [(10, 1, t0, 1.0), (11, 1, t0, 2.0)],
        "click_id long, user_id long, click_ts timestamp, v double")
    out = aj.asof_join(left, right, on="user_id", left_time="ts",
                       right_time="click_ts", payload=["click_id", "v"],
                       tiebreak="click_id")
    # right row AT the left time counts; duplicate ts resolves to the
    # larger tiebreak (click_id 11).
    assert out.collect()[0]["click_id_asof"] == 11


# --- bucketed interval join ------------------------------------------------

def test_interval_join_bucketed_matches_naive(spark):
    base = ts("2024-01-01 00:00:00")
    intervals = spark.createDataFrame(
        [(i, 1, base + dt.timedelta(minutes=7 * i),
          base + dt.timedelta(minutes=7 * i + 25)) for i in range(20)],
        "iv_id long, k long, s timestamp, e timestamp")
    points = spark.createDataFrame(
        [(100 + j, 1, base + dt.timedelta(minutes=3 * j)) for j in range(50)],
        "pt_id long, k long, t timestamp")
    fast = aj.interval_join_bucketed(intervals, points, on="k", start="s",
                                     end="e", point_time="t",
                                     bucket_seconds=1800)
    naive = intervals.join(points, "k").where(
        (F.col("t") >= F.col("s")) & (F.col("t") <= F.col("e")))
    fset = {(r["iv_id"], r["pt_id"]) for r in fast.collect()}
    nset = {(r["iv_id"], r["pt_id"]) for r in naive.collect()}
    assert fset == nset and len(fset) > 0


def test_interval_join_includes_boundaries(spark):
    s0, e0 = ts("2024-01-01 10:00:00"), ts("2024-01-01 10:30:00")
    intervals = spark.createDataFrame([(1, 1, s0, e0)],
                                      "iv_id long, k long, s timestamp, e timestamp")
    points = spark.createDataFrame(
        [(1, 1, s0), (2, 1, e0),
         (3, 1, e0 + dt.timedelta(seconds=1)),
         (4, 1, s0 - dt.timedelta(seconds=1))],
        "pt_id long, k long, t timestamp")
    got = sorted(r["pt_id"] for r in aj.interval_join_bucketed(
        intervals, points, on="k", start="s", end="e", point_time="t",
        bucket_seconds=1800).collect())
    assert got == [1, 2]


# --- sampling / splits -----------------------------------------------------

def test_hash_split_stable_under_growth(spark):
    small = spark.range(0, 100).withColumnRenamed("id", "doc_id")
    big = spark.range(0, 1000).withColumnRenamed("id", "doc_id")
    bounds = {"train": 80, "val": 90, "test": 100}
    s_small = {r["doc_id"]: r["split"]
               for r in sp.hash_split(small, "doc_id", bounds).collect()}
    s_big = {r["doc_id"]: r["split"]
             for r in sp.hash_split(big, "doc_id", bounds).collect()}
    # growing the table never reassigns existing rows
    assert all(s_big[k] == v for k, v in s_small.items())
    frac_train = sum(v == "train" for v in s_big.values()) / 1000
    assert 0.7 < frac_train < 0.9


def test_hash_split_requires_terminal_boundary(spark):
    df = spark.range(1).withColumnRenamed("id", "doc_id")
    with pytest.raises(ValueError):
        sp.hash_split(df, "doc_id", {"train": 80, "val": 90})


def test_sample_k_per_group_exact_k_and_deterministic(spark):
    df = spark.createDataFrame(
        [(i, "g%d" % (i % 3)) for i in range(90)], "doc_id long, g string")
    a = sp.sample_k_per_group(df, ["g"], "doc_id", k=5)
    b = sp.sample_k_per_group(df, ["g"], "doc_id", k=5)
    rows_a = sorted((r["g"], r["doc_id"]) for r in a.collect())
    rows_b = sorted((r["g"], r["doc_id"]) for r in b.collect())
    assert rows_a == rows_b
    per_group = a.groupBy("g").count().collect()
    assert all(r["count"] == 5 for r in per_group)


def test_bernoulli_hash_sample_fraction(spark):
    df = spark.range(0, 10_000).withColumnRenamed("id", "doc_id")
    n = sp.bernoulli_hash_sample(df, "doc_id", 0.1).count()
    assert 800 < n < 1200


# --- chunking --------------------------------------------------------------

def test_chunk_text_overlap_and_trailing(spark):
    text = "abcdefghij" * 35  # 350 chars -> starts 1, 151, 301
    df = spark.createDataFrame([(1, text), (2, "")],
                               "doc_id long, text string")
    out = cp.chunk_text(df, "doc_id", "text", size=200, overlap=50)
    rows = {(r["doc_id"], r["chunk_idx"]): r for r in out.collect()}
    assert rows[(1, 0)]["chunk_text"] == text[0:200]
    assert rows[(1, 1)]["chunk_text"] == text[150:350]
    assert rows[(1, 2)]["chunk_text"] == text[300:350]
    # consecutive chunks overlap by 50 chars
    assert rows[(1, 0)]["chunk_text"][-50:] == rows[(1, 1)]["chunk_text"][:50]
    # empty doc still yields one (empty) chunk
    assert rows[(2, 0)]["chunk_len"] == 0
    with pytest.raises(ValueError):
        cp.chunk_text(df, "doc_id", "text", size=100, overlap=100)


# --- tf-idf / n-grams / decontamination ------------------------------------

def test_tfidf_log_variant_ranks_distinctive_terms(spark):
    df = spark.createDataFrame(
        [(1, "apple apple apple common"),
         (2, "banana banana common"),
         (3, "cherry common common")],
        "doc_id long, text string")
    out = cp.tfidf_top_terms(df, "doc_id", "text", k=1, use_log_idf=True)
    top = {r["doc_id"]: r["term"] for r in out.collect()}
    # 'common' appears in every doc -> log idf 0 -> never the top term
    assert top == {1: "apple", 2: "banana", 3: "cherry"}


def test_top_ngrams_short_docs_excluded(spark):
    df = spark.createDataFrame(
        [(1, "a b a b"), (2, "single"), (3, "")], "doc_id long, text string")
    got = {(r["ngram"], r["cnt"]) for r in
           cp.top_ngrams(df, "text", n=2, k=10).collect()}
    assert got == {("a b", 2), ("b a", 1)}


def test_decontaminate_flags_only_real_overlap(spark):
    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string")
    corpus = spark.createDataFrame(
        [(1, "xx the quick brown fox jumps zz"),   # shares 5-grams
         (2, "completely different words here entirely now"),
         (3, "quick brown fox")],                  # < 5 words: no 5-gram
        "doc_id long, text string")
    out = {r["doc_id"]: r["n_hits"] for r in
           cp.decontaminate(corpus, bench, "doc_id", "text", n=5).collect()}
    assert set(out) == {1} and out[1] == 1  # "the quick brown fox jumps"


# --- centroids / k-means assignment ---------------------------------------

def test_group_centroids_quantized_exact(spark):
    df = spark.createDataFrame(
        [(1, "a", [1.0, 2.0]), (2, "a", [3.0, 6.0]), (3, "b", [10.0, 0.0])],
        "vec_id long, g string, embedding array<float>")
    cent = {(r["g"], r["dim"]): (r["n"], r["centroid"], r["qcent"]) for r in
            sim.group_centroids_quantized(df, "g", "embedding").collect()}
    assert cent == {("a", 0): (2, 2.0, 2_000_000), ("a", 1): (2, 4.0, 4_000_000),
                    ("b", 0): (1, 10.0, 10_000_000), ("b", 1): (1, 0.0, 0)}


def test_assign_nearest_centroid_ties_break_low_label(spark):
    df = spark.createDataFrame(
        [(1, [0.0, 0.0]), (2, [10.0, 10.0]), (3, [5.0, 5.0])],
        "vec_id long, embedding array<float>")
    cents = spark.createDataFrame(
        [(0, 0, 0.0), (0, 1, 0.0), (1, 0, 10.0), (1, 1, 10.0)],
        "label int, dim long, centroid double")
    got = {r["vec_id"]: r["assigned"] for r in sim.assign_nearest_centroid(
        df, "vec_id", "embedding", cents, "label").collect()}
    # vec 3 is equidistant -> lower centroid id wins
    assert got == {1: 0, 2: 1, 3: 0}


def test_one_lloyd_iteration_reduces_inertia(spark, tmp_path):
    # iterate: assign -> recompute centroids on assignment -> inertia drops
    import random
    random.seed(7)
    rows = [(i, i % 2,
             [random.gauss(5.0 * (i % 2), 1.0) for _ in range(4)])
            for i in range(200)]
    df = spark.createDataFrame(rows, "vec_id long, label int, embedding array<float>")
    c0 = sim.group_centroids_quantized(df, "label", "embedding")
    a0 = sim.assign_nearest_centroid(df, "vec_id", "embedding",
                                     c0.select("label", "dim", "centroid"),
                                     "label")
    inertia0 = a0.agg(F.sum("dist")).collect()[0][0]
    relabeled = df.join(a0.select("vec_id", "assigned"), "vec_id") \
                  .select("vec_id", F.col("assigned").alias("label"), "embedding")
    c1 = sim.group_centroids_quantized(relabeled, "label", "embedding")
    a1 = sim.assign_nearest_centroid(relabeled, "vec_id", "embedding",
                                     c1.select("label", "dim", "centroid"),
                                     "label")
    inertia1 = a1.agg(F.sum("dist")).collect()[0][0]
    assert inertia1 <= inertia0 + 1e-9


def _q8(v):
    """int8 quantization of the SemDeDup pair scorer (quantize_int8)."""
    import math
    s = max(abs(x) for x in v)
    if s == 0.0:
        return [0] * len(v)
    return [max(-127, math.floor(x * 127.0 / s)) for x in v]


def _semdedup_reference(rows, threshold, keep_policy="farthest"):
    """Pure-Python SemDeDup with the q77 oracle's integer semantics:
    1e-6-grid vectors, ``qcent = floor(Σ/n)``, BIGINT squared-L2 argmin
    (low label ties), within-cluster int8 cosine pairs
    ``dot / sqrt(na·nb)``, union-find, one keeper."""
    import math
    from collections import defaultdict
    grid = {r[0]: [math.floor(x * 1000000.0) for x in r[2]] for r in rows}
    by_label = defaultdict(list)
    for _id, lbl, _v in rows:
        by_label[lbl].append(grid[_id])
    cents = {lbl: [math.floor(sum(col) / len(qs)) for col in zip(*qs)]
             for lbl, qs in by_label.items()}
    assigned, dist = {}, {}
    for _id, _lbl, _v in rows:
        d = {c: sum((x - y) * (x - y) for x, y in zip(grid[_id], cents[c]))
             for c in cents}
        best = min(sorted(cents), key=lambda c: (d[c], c))
        assigned[_id] = best
        dist[_id] = d[best]
    vec = {r[0]: _q8(r[2]) for r in rows}
    parent = {r[0]: r[0] for r in rows}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    ids = sorted(vec)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            if assigned[a] != assigned[b]:
                continue
            va, vb = vec[a], vec[b]
            na = sum(x * x for x in va)
            nb = sum(x * x for x in vb)
            if na == 0 or nb == 0:
                continue
            cos = sum(x * y for x, y in zip(va, vb)) / math.sqrt(na * nb)
            if cos >= threshold:
                ra, rb = find(a), find(b)
                if ra != rb:
                    lo, hi = min(ra, rb), max(ra, rb)
                    parent[hi] = lo
    groups = defaultdict(list)
    for x in ids:
        groups[find(x)].append(x)
    keep = set()
    for members in groups.values():
        if keep_policy == "farthest":
            keep.add(min(members, key=lambda m: (-dist[m], m)))
        elif keep_policy == "nearest":
            keep.add(min(members, key=lambda m: (dist[m], m)))
        else:
            keep.add(min(members))
    return {x: find(x) for x in ids}, keep


def test_semantic_dedup_matches_reference(spark):
    # 3 gaussian clusters + planted near-dup pairs (base + tiny noise)
    import random
    random.seed(23)
    rows = []
    for i in range(60):
        lbl = i % 3
        rows.append((i, lbl, [random.gauss(4.0 * lbl + 1.0, 1.0) for _ in range(8)]))
    for j in range(6):  # plant dups of rows 0..5 with ~0.999 cosine
        base = rows[j][2]
        rows.append((100 + j, rows[j][1],
                     [x * 1.01 + random.gauss(0, 0.001) for x in base]))
    # float32 storage truncates; mirror by round-tripping through float32
    import struct
    f32 = lambda x: struct.unpack("f", struct.pack("f", x))[0]
    rows = [(i, l, [f32(x) for x in v]) for i, l, v in rows]
    df = spark.createDataFrame(rows, "vec_id long, label int, embedding array<float>")
    cent = sim.group_centroids_quantized(df, "label", "embedding")
    got = sim.semantic_dedup(df, "vec_id", "embedding", cent, "label",
                             threshold=0.9).collect()
    ref_groups, ref_keep = _semdedup_reference(
        [(i, l, [float(x) for x in v]) for i, l, v in rows], 0.9)
    assert {r["vec_id"]: r["sd_group"] for r in got} == ref_groups
    assert {r["vec_id"] for r in got if r["keep"]} == ref_keep
    # every planted dup collapsed into its base's group, exactly one kept
    for j in range(6):
        assert ref_groups[100 + j] == ref_groups[j]


def test_semantic_dedup_keep_policies(spark):
    # one cluster, one dup pair: id 1 nearer the centroid than id 2
    rows = [(1, 0, [1.0, 0.0]), (2, 0, [0.98, 0.21]), (3, 0, [-1.0, 1.0])]
    df = spark.createDataFrame(rows, "vec_id long, label int, embedding array<float>")
    cent = sim.group_centroids_quantized(df, "label", "embedding")

    def keeps(policy):
        out = sim.semantic_dedup(df, "vec_id", "embedding", cent, "label",
                                 threshold=0.95, keep_policy=policy).collect()
        return {r["vec_id"] for r in out if r["keep"]}, \
               {r["vec_id"]: r["sd_group"] for r in out}

    k_far, groups = keeps("farthest")
    assert groups[1] == groups[2] == 1 and groups[3] == 3  # 3 is a singleton
    k_near, _ = keeps("nearest")
    k_min, _ = keeps("min_id")
    assert 3 in k_far and 3 in k_near and 3 in k_min  # singleton always kept
    assert k_min == {1, 3}
    # dup pair: exactly one of {1,2} kept under every policy
    assert len(k_far & {1, 2}) == 1 and len(k_near & {1, 2}) == 1
    assert (k_far & {1, 2}) != (k_near & {1, 2})  # policies pick opposite ends
    with pytest.raises(ValueError):
        sim.semantic_dedup(df, "vec_id", "embedding", cent, "label",
                           keep_policy="nope")


def test_with_nearest_centroid_int_exact(spark):
    """The integer path (1e-6-grid BIGINT squared-L2 via int64 matmul)
    must reproduce a pure-python integer reference BIT-EXACTLY — that
    exactness is what lets q77 register it against a DuckDB oracle at
    any k."""
    import math
    import random
    import struct
    random.seed(41)
    f32 = lambda x: struct.unpack("f", struct.pack("f", x))[0]
    rows = [(i, i % 4, [f32(random.gauss(10.0 * (i % 4), 1.0))
                        for _ in range(6)])
            for i in range(160)]
    df = spark.createDataFrame(
        rows, "vec_id long, label int, embedding array<float>")
    ci = sim.group_centroids_quantized(df, "label", "embedding")
    got = {r["vec_id"]: (r["assigned"], r["dist"]) for r in
           sim.with_nearest_centroid_int(df.select("vec_id", "embedding"),
                                         "embedding", ci, "label").collect()}
    # pure-python integer reference (same IEEE ops, same floor/grid)
    by_lbl = {}
    for _, lbl, v in rows:
        by_lbl.setdefault(lbl, []).append([math.floor(x * 1000000.0)
                                           for x in v])
    qcent = {lbl: [math.floor(sum(col) / len(vs))
                   for col in zip(*vs)]
             for lbl, vs in ((l, v) for l, v in by_lbl.items())}
    for vid, lbl, v in rows:
        qv = [math.floor(x * 1000000.0) for x in v]
        dists = {l: sum((a - b) * (a - b) for a, b in zip(qv, c))
                 for l, c in qcent.items()}
        best = min(dists, key=lambda l: (dists[l], l))
        assert got[vid] == (best, dists[best]), vid
    # probes: distance-ordered top-p, starting at assigned
    pr = sim.with_nearest_centroid_int(
        df.select("vec_id", "embedding"), "embedding", ci, "label",
        probes_col="pp", probes=3).collect()
    for r in pr:
        assert r["pp"][0] == r["assigned"] and len(r["pp"]) == 3


def test_embedding_near_dups_int_matches_reference(spark):
    """int8-quantized Gram pairs: bit-exact vs a pure-python quantize +
    integer-dot reference; zero vectors never pair; pairs are i<j and
    never cross buckets."""
    import math
    import struct
    f32 = lambda x: struct.unpack("f", struct.pack("f", x))[0]
    rows = [
        (1, 0, [1.0, 0.0, 0.0]), (2, 0, [0.99, 0.14, 0.0]),
        (3, 0, [0.0, 1.0, 0.0]), (4, 0, [0.0, 0.0, 0.0]),   # zero vec
        (5, 1, [1.0, 0.0, 0.0]), (6, 1, [-0.7, 0.7, 0.1]),
        (7, 1, [0.98, 0.0, 0.2]),
    ]
    rows = [(i, b, [f32(x) for x in v]) for i, b, v in rows]
    df = spark.createDataFrame(
        rows, "vec_id long, bk int, embedding array<float>")
    got = {(r["id_a"], r["id_b"]): r["cos"] for r in
           sim.embedding_near_dups_int(df, "vec_id", "embedding", "bk",
                                       threshold=0.5).collect()}

    exp = {}
    for i, (ia, ba, va) in enumerate(rows):
        for ib, bb, vb in rows[i + 1:]:
            if ba != bb:
                continue
            qa, qb = _q8(va), _q8(vb)
            na = sum(x * x for x in qa)
            nb = sum(x * x for x in qb)
            if na == 0 or nb == 0:
                continue
            cos = sum(x * y for x, y in zip(qa, qb)) / math.sqrt(na * nb)
            if cos >= 0.5:
                exp[(min(ia, ib), max(ia, ib))] = cos
    assert got == exp          # bit-exact, including the cos values
    assert (1, 2) in got and (5, 7) in got
    assert all(4 not in p for p in got)   # zero vector never pairs


def test_semantic_dedup_multi_probe_finds_straddling_pair(spark):
    # two centroids at (1,0) and (0.94, 0.342) on the 1e-6 grid; the dup
    # pair sits near the boundary so its members assign to DIFFERENT
    # top-1 centroids
    import math
    a = [math.cos(0.16), math.sin(0.16)]   # nearer c0
    b = [math.cos(0.19), math.sin(0.19)]   # nearer c1 (boundary ~0.175)
    rows = [(1, a), (2, b), (3, [1.0, 0.0]), (4, [0.94, 0.342])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cents = spark.createDataFrame(
        [(0, 0, 1_000_000), (0, 1, 0), (1, 0, 940_000), (1, 1, 342_000)],
        "label int, dim long, qcent long")
    one = sim.semantic_dedup(df, "vec_id", "embedding", cents, "label",
                             threshold=0.999).collect()
    assigned = {r["vec_id"]: r["assigned"] for r in one}
    assert assigned[1] != assigned[2]            # genuinely straddling
    groups1 = {r["vec_id"]: r["sd_group"] for r in one}
    assert groups1[1] != groups1[2]              # probes=1 misses it
    two = sim.semantic_dedup(df, "vec_id", "embedding", cents, "label",
                             threshold=0.999, probes=2).collect()
    groups2 = {r["vec_id"]: r["sd_group"] for r in two}
    assert groups2[1] == groups2[2]              # multi-probe finds it
    assert sum(1 for r in two if r["keep"] and r["vec_id"] in (1, 2)) == 1
    # keeper dist is still the top-1 centroid distance under probes=2
    d1 = {r["vec_id"]: r["dist"] for r in one}
    d2 = {r["vec_id"]: r["dist"] for r in two}
    assert d1 == d2
    with pytest.raises(ValueError):
        sim.semantic_dedup(df, "vec_id", "embedding", cents, "label", probes=0)


def test_semantic_dedup_max_bucket_guard(spark):
    # cluster over the cap contributes no pairs -> everything kept
    rows = [(i, 0, [1.0, 0.0]) for i in range(6)]
    df = spark.createDataFrame(rows, "vec_id long, label int, embedding array<float>")
    cent = sim.group_centroids_quantized(df, "label", "embedding")
    out = sim.semantic_dedup(df, "vec_id", "embedding", cent, "label",
                             threshold=0.5, max_bucket=3).collect()
    assert all(r["keep"] for r in out)
    assert {r["sd_group"] for r in out} == set(range(6))


def test_sessionize_gap_semantics(spark):
    # inclusive convention (= Structured Streaming session_window): an
    # event at exactly prev + gap CONTINUES the session
    base = dt.datetime(2024, 1, 1, 10, 0, 0)
    rows = [
        (1, 1, base),                                   # session 1
        (2, 1, base + dt.timedelta(minutes=30)),        # exactly 30m: same
        (3, 1, base + dt.timedelta(minutes=61)),        # 31m gap: new
        (4, 2, base),                                   # other user
    ]
    df = spark.createDataFrame(rows, "event_id long, user_id long, ts timestamp")
    from tradingview_data_pipeline_spark.operators.asof import sessionize
    got = {r["event_id"]: r["session_seq"]
           for r in sessionize(df, "user_id", "ts", gap="30 minutes",
                               tiebreak="event_id").collect()}
    assert got == {1: 1, 2: 1, 3: 2, 4: 1}


def test_sessionize_matches_session_window_on_gap_edges(spark):
    # batch sessionize ≡ F.session_window on a fixture dense in exact
    # boundary cases: gaps of 29:59, exactly 30:00, 30:01, plus chained
    # boundary events and a single-event user
    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    deltas = {
        1: [0, 29 * 60 + 59, 2 * 30 * 60, 3 * 30 * 60 + 1],   # mix
        2: [0, 30 * 60, 2 * 30 * 60, 3 * 30 * 60],            # chained edges
        3: [0],                                               # singleton
        4: [0, 1799, 3598, 3598 + 1800],                      # sub-gap chain then edge
    }
    rows = [(u, base + dt.timedelta(seconds=s))
            for u, ss in deltas.items() for s in ss]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")

    from tradingview_data_pipeline_spark.operators.asof import sessionize
    batch = (df.groupBy(F.session_window("ts", "30 minutes").alias("w"),
                        "user_id")
             .agg(F.count(F.lit(1)).alias("n"))
             .select("user_id", F.col("w.start").alias("session_start"), "n"))
    ours = (sessionize(df, "user_id", "ts", gap="30 minutes")
            .groupBy("user_id", "session_seq")
            .agg(F.min("ts").alias("session_start"),
                 F.count(F.lit(1)).alias("n"))
            .drop("session_seq"))
    a = sorted(map(tuple, batch.collect()))
    b = sorted(map(tuple, ours.select("user_id", "session_start", "n").collect()))
    assert a == b


def test_weighted_sample_k_deterministic_and_biased(spark):
    rows = [(i, 100.0 if i == 0 else 1.0, "g") for i in range(60)]
    df = spark.createDataFrame(rows, "doc_id long, wt double, g string")

    a = {r["doc_id"] for r in
         sp.weighted_sample_k(df, "doc_id", "wt", 10).collect()}
    b = {r["doc_id"] for r in
         sp.weighted_sample_k(df, "doc_id", "wt", 10).collect()}
    assert a == b and len(a) == 10          # deterministic, exactly k

    # weight bias: the 100x-weight row appears in (nearly) every draw
    # across independent salts; any fixed light row in few
    heavy = light = 0
    for s in range(25):
        got = {r["doc_id"] for r in
               sp.weighted_sample_k(df, "doc_id", "wt", 10,
                                    salt=f"s{s}").collect()}
        heavy += 0 in got
        light += 1 in got
    assert heavy >= 23 and light <= 15

    # grouped form: exact k per group, deterministic
    rows2 = [(i, 1.0 + (i % 3), f"g{i % 4}") for i in range(80)]
    df2 = spark.createDataFrame(rows2, "doc_id long, wt double, g string")
    out = sp.weighted_sample_k(df2, "doc_id", "wt", 5, group_cols=["g"])
    cnt = {r["g"]: 0 for r in out.collect()}
    for r in out.collect():
        cnt[r["g"]] += 1
    assert all(v == 5 for v in cnt.values()) and len(cnt) == 4

    # zero/negative/null weights excluded
    df3 = spark.createDataFrame(
        [(1, 0.0, "g"), (2, -1.0, "g"), (3, None, "g"), (4, 2.0, "g")],
        "doc_id long, wt double, g string")
    got3 = [r["doc_id"] for r in
            sp.weighted_sample_k(df3, "doc_id", "wt", 10).collect()]
    assert got3 == [4]


def test_cluster_safe_split_no_leakage(spark):
    """Every member of a cluster lands in the SAME split; singletons
    keep hash-split determinism on their own id."""
    from tradingview_data_pipeline_spark.operators.sampling import (
        cluster_safe_split, hash_split)

    docs = spark.createDataFrame([(i,) for i in range(200)], "doc_id long")
    # clusters: {0,1,2} -> 0, {10,11} -> 10; everyone else singleton
    clusters = spark.createDataFrame(
        [(0, 0), (1, 0), (2, 0), (10, 10), (11, 10)],
        "doc_id long, cluster_id long")
    out = {r["doc_id"]: (r["cluster_id"], r["split"]) for r in
           cluster_safe_split(docs, "doc_id", clusters).collect()}
    assert len(out) == 200
    assert out[0] == out[1] == out[2]            # whole cluster together
    assert out[10] == out[11]
    # singletons match the plain hash split on the same salt
    plain = {r["doc_id"]: r["split"] for r in
             hash_split(docs, "doc_id",
                        {"train": 80, "val": 90, "test": 100},
                        salt="csplit").collect()}
    for d in (5, 42, 199):
        assert out[d] == (d, plain[d])


def test_contrastive_triplets_deterministic_and_clean(spark):
    from tradingview_data_pipeline_spark.operators.corpus import (
        contrastive_triplets)

    ids = spark.createDataFrame([(i,) for i in range(100)], "doc_id long")
    pairs = spark.createDataFrame([(1, 2), (3, 4)], "doc_a long, doc_b long")
    t1 = contrastive_triplets(pairs, ids, "doc_id", k_negatives=3).collect()
    t2 = contrastive_triplets(pairs, ids, "doc_id", k_negatives=3).collect()
    assert sorted(map(tuple, t1)) == sorted(map(tuple, t2))  # deterministic

    rows = [(r["anchor"], r["positive"], r["negative"]) for r in t1
            if r["negative"] is not None]
    assert rows
    pair_set = {(1, 2), (2, 1), (3, 4), (4, 3)}
    for a, p, n in rows:
        assert (a, p) in pair_set              # positives are the pairs
        assert n != a and (a, n) not in pair_set   # negatives are clean
    # anchors with negatives get up to k of them
    per_anchor = {}
    for a, _, n in rows:
        per_anchor.setdefault(a, set()).add(n)
    assert all(1 <= len(v) <= 3 for v in per_anchor.values())


def test_contrastive_triplets_grow_mostly_stable(spark):
    from tradingview_data_pipeline_spark.operators.corpus import (
        contrastive_triplets)

    pairs = spark.createDataFrame([(1, 2)], "doc_a long, doc_b long")
    small = spark.createDataFrame([(i,) for i in range(50)], "doc_id long")
    big = spark.createDataFrame([(i,) for i in range(60)], "doc_id long")
    n_small = {(r["anchor"], r["negative"]) for r in
               contrastive_triplets(pairs, small, "doc_id",
                                    k_negatives=2).collect()
               if r["negative"] is not None}
    n_big = {(r["anchor"], r["negative"]) for r in
             contrastive_triplets(pairs, big, "doc_id",
                                  k_negatives=2).collect()
             if r["negative"] is not None}
    # growth only changes a triplet where a NEW doc (id >= 50) wins a
    # probed slot: every gained negative must be a new doc, and every
    # lost one must have been displaced by a new doc in the same probe
    gained = {n for (_, n) in n_big - n_small}
    assert gained <= set(range(50, 60))
    assert len(n_small & n_big) >= 1


def test_contrastive_triplets_zero_negative_anchor_not_dropped(spark):
    """An anchor whose probes find no usable negative still emits its
    positive rows with n_negatives=0 and a NULL negative."""
    from tradingview_data_pipeline_spark.operators.corpus import (
        contrastive_triplets)

    ids = spark.createDataFrame([(1,), (2,)], "doc_id long")
    pairs = spark.createDataFrame([(1, 2)], "doc_a long, doc_b long")
    rows = contrastive_triplets(pairs, ids, "doc_id",
                                k_negatives=2).collect()
    assert {(r["anchor"], r["positive"]) for r in rows} == {(1, 2), (2, 1)}
    assert all(r["negative"] is None and r["n_negatives"] == 0
               for r in rows)


# --- BM25 ranking (operators/corpus.bm25_scores) --------------------------

def _bm25_docs(spark):
    return spark.createDataFrame(
        [(1, "spark query engine fast spark"),      # tf(spark)=2, short
         (2, "spark " + "filler " * 40 + "query"),  # long doc, tf=1 each
         (3, "query query query"),                  # only 'query'
         (4, "nothing relevant here at all"),
         (5, "fast fast spark")],
        "doc_id long, text string")


def test_bm25_prefers_tf_and_penalizes_length(spark):
    out = cp.bm25_scores(_bm25_docs(spark), "doc_id", "text",
                         ["spark", "query", "fast"], k=5)
    rows = {r["doc_id"]: r for r in out.collect()}
    # every doc ranked, rk dense 1..5, no-term doc scores 0 and ranks last
    assert sorted(r["rk"] for r in rows.values()) == [1, 2, 3, 4, 5]
    assert rows[4]["score"] == 0.0 and rows[4]["rk"] == 5
    # doc 1 (2x spark + query + fast, short) must beat the long doc 2
    assert rows[1]["score"] > rows[2]["score"]
    # length normalization: same tf=1 for spark+query, doc 2 is 42 tokens
    # vs doc 1's 5 -> doc 2's per-term contributions are strictly smaller
    assert rows[2]["score"] < rows[1]["score"]
    assert rows[1]["rk"] == 1


def test_bm25_log_idf_rank_agreement(spark):
    """Single-term rankings must match Lucene-style log-idf BM25
    (idf = ln(1 + (N-df+.5)/(df+.5)), always positive — the classic
    un-shifted ln goes NEGATIVE when df > N/2 and inverts rankings,
    which is exactly why Lucene adds the 1). ln(1+x) is a positive
    monotone transform of the rational idf, so per-term orderings
    agree. Pins that the oracle-checkable variant ranks like the BM25
    implementations people actually run."""
    import math
    docs = _bm25_docs(spark)
    out = cp.bm25_scores(docs, "doc_id", "text", ["spark"], k=5).collect()
    by_rank = [r["doc_id"] for r in sorted(out, key=lambda r: r["rk"])]
    # recompute Lucene log-idf BM25 in python ('spark' has df=4 of 5,
    # so the un-shifted classic idf would be negative here)
    rows = docs.collect()
    toks = {r["doc_id"]: r["text"].split() for r in rows}
    n = len(rows)
    avgdl = sum(len(t) for t in toks.values()) / n
    df = sum(1 for t in toks.values() if "spark" in t)
    idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
    assert idf > 0

    def s(d):
        tf = toks[d].count("spark")
        return idf * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * len(toks[d]) / avgdl))

    expect = sorted(toks, key=lambda d: (-s(d), d))
    assert by_rank == expect


def test_remove_dup_spans_leading_whitespace_alignment(spark):
    """Regression (r8 review): text starting with a tab/newline must
    not shift the cut window — tx.tokens used a space-only trim and
    emitted a phantom leading "" token, off-by-one against the word
    positions gram hashing uses, so the LAST word of each shared span
    survived and an innocent word was cut instead."""
    shared = "one two three four five six seven eight"
    docs = spark.createDataFrame(
        [(1, "\t" + shared + " tail1 tail2"),    # tab-leading
         (2, "\nhead " + shared)],               # newline-leading
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           cp.remove_dup_spans(docs, "doc_id", "text", n=8).collect()}
    assert out[1]["text_clean"] == "tail1 tail2"
    assert out[1]["n_words"] == 10 and out[1]["n_removed"] == 8
    assert out[2]["text_clean"] == "head" and out[2]["n_removed"] == 8


def test_remove_dup_spans_keep_min_doc(spark):
    """keep_min_doc=True protects shared-gram occurrences in the
    MIN-doc_id owner: exactly one document retains each shared span
    (suffix-array dedup's keep-one-copy rule with a deterministic,
    layout-independent owner)."""
    shared = "one two three four five six seven eight"
    docs = spark.createDataFrame(
        [(5, shared + " tail1 tail2"),     # min doc containing the span
         (9, "head " + shared),
         (12, shared + " other end here")],
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in cp.remove_dup_spans(
        docs, "doc_id", "text", n=8, keep_min_doc=True).collect()}
    assert out[5]["text_clean"] == shared + " tail1 tail2"   # owner keeps
    assert out[5]["n_removed"] == 0
    assert out[9]["text_clean"] == "head" and out[9]["n_removed"] == 8
    assert out[12]["text_clean"] == "other end here"
    # default mode still cuts every copy including the owner's
    hard = {r["doc_id"]: r for r in cp.remove_dup_spans(
        docs, "doc_id", "text", n=8).collect()}
    assert hard[5]["text_clean"] == "tail1 tail2"


def test_bm25_lucene_variant_matches_python_bm25(spark):
    """idf='lucene' must compute full Lucene-style log-idf BM25 — the
    drop-in variant for callers whose MULTI-term rankings the default
    rational idf can distort (rare terms overweighted). Verified by
    value against a pure-Python BM25 (this variant is pytest-verified,
    not oracle-checked: transcendental ln is not hash-stable across
    engines)."""
    import math
    docs = _bm25_docs(spark)
    terms = ["spark", "query", "fast"]
    out = {r["doc_id"]: r for r in cp.bm25_scores(
        docs, "doc_id", "text", terms, k=5, idf="lucene").collect()}

    rows = docs.collect()
    toks = {r["doc_id"]: r["text"].split() for r in rows}
    n = len(rows)
    avgdl = sum(len(t) for t in toks.values()) / n

    def score(d):
        s = 0.0
        for t in terms:
            dfreq = sum(1 for w in toks.values() if t in w)
            idf = math.log(1.0 + (n - dfreq + 0.5) / (dfreq + 0.5))
            tf = toks[d].count(t)
            s += idf * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * len(toks[d]) / avgdl))
        return s

    for d in toks:
        assert abs(out[d]["score"] - score(d)) < 1e-12, d
    expect = sorted(toks, key=lambda d: (-score(d), d))
    assert [r["doc_id"] for r in
            sorted(out.values(), key=lambda r: r["rk"])] == expect


def test_bm25_unknown_idf_rejected(spark):
    import pytest
    with pytest.raises(ValueError, match="idf variant"):
        cp.bm25_scores(_bm25_docs(spark), "doc_id", "text", ["x"],
                       idf="classic")


def test_bm25_zero_df_term_contributes_nothing(spark):
    out = cp.bm25_scores(_bm25_docs(spark), "doc_id", "text",
                         ["spark", "absent_term"], k=5)
    base = cp.bm25_scores(_bm25_docs(spark), "doc_id", "text",
                          ["spark"], k=5)
    a = {r["doc_id"]: r["score"] for r in out.collect()}
    b = {r["doc_id"]: r["score"] for r in base.collect()}
    assert a == b  # tf=0 terms add exactly 0.0 regardless of df


def test_token_rarity_profile(spark):
    """Hand-computed document frequencies: mean_token_df is
    occurrence-weighted; rare_frac counts occurrences of
    single-document tokens; empty docs report zeros."""
    docs = spark.createDataFrame(
        [(1, "a a b"),        # a: df=2, b: df=1
         (2, "a c"),          # c: df=2
         (3, "c d"),          # d: df=1
         (4, "")],
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           cp.token_rarity_profile(docs, "doc_id", "text").collect()}
    assert out[1]["n_tokens"] == 3
    assert out[1]["mean_token_df"] == (2 + 2 + 1) / 3   # a,a,b
    assert out[1]["rare_frac"] == 1 / 3                 # just b
    assert out[2]["mean_token_df"] == (2 + 2) / 2 and out[2]["rare_frac"] == 0.0
    assert out[3]["mean_token_df"] == (2 + 1) / 2 and out[3]["rare_frac"] == 0.5
    assert out[4]["n_tokens"] == 0 and out[4]["mean_token_df"] == 0.0


# --- duplicate spans (operators/corpus.dup_span_profile) ------------------

def test_dup_span_profile_planted_overlap(spark):
    shared = "one two three four five six seven eight"      # 8 words
    docs = spark.createDataFrame(
        [(1, shared + " tail1 tail2"),     # 3 spans, 1 shared with doc 2
         (2, "head " + shared),            # 2 spans, 1 shared with doc 1
         (3, "totally different words in this document here now ok"),
         (4, "short doc")],                # < 8 words: zero spans
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           cp.dup_span_profile(docs, "doc_id", "text", n=8).collect()}
    assert out[1]["n_spans"] == 3 and out[1]["n_dup_spans"] == 1
    assert out[2]["n_spans"] == 2 and out[2]["n_dup_spans"] == 1
    assert out[1]["dup_frac"] == 1 / 3 and out[2]["dup_frac"] == 0.5
    assert out[3]["n_spans"] == 2 and out[3]["n_dup_spans"] == 0
    # doc 4 has no spans but is still reported, with frac 0.0
    assert out[4]["n_spans"] == 0 and out[4]["dup_frac"] == 0.0


def test_dup_span_within_doc_repeat_is_not_a_dup(spark):
    """A span repeated only within ONE document is not cross-doc
    duplication (nd counts distinct docs)."""
    span = "a b c d e f g h"
    docs = spark.createDataFrame(
        [(1, span + " x " + span),
         (2, "unrelated material goes right here in doc two ok")],
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           cp.dup_span_profile(docs, "doc_id", "text", n=8).collect()}
    assert out[1]["n_dup_spans"] == 0


def test_remove_dup_spans_planted_overlap(spark):
    """The action half of the profiler: every word covered by a shared
    8-gram is cut from BOTH documents; unique tails survive; short and
    unique docs pass through (whitespace-normalized) untouched."""
    shared = "one two three four five six seven eight"      # 8 words
    docs = spark.createDataFrame(
        [(1, shared + " tail1 tail2"),
         (2, "head " + shared),
         (3, "totally different words in this document here now ok"),
         (4, "short  doc")],                # < 8 words: no spans
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           cp.remove_dup_spans(docs, "doc_id", "text", n=8).collect()}
    assert out[1]["text_clean"] == "tail1 tail2"
    assert out[1]["n_words"] == 10 and out[1]["n_removed"] == 8
    assert out[2]["text_clean"] == "head"
    assert out[2]["n_words"] == 9 and out[2]["n_removed"] == 8
    assert out[3]["n_removed"] == 0
    assert out[4]["text_clean"] == "short doc"      # normalized, kept
    assert out[4]["n_removed"] == 0


def test_remove_dup_spans_overlapping_spans_merge(spark):
    """Two OVERLAPPING shared grams cover a merged interval — covered
    positions union positionally, so overlap never double-cuts and the
    whole 9-word run disappears; a doc repeating a span only within
    itself is untouched (cross-doc means distinct docs)."""
    run9 = "a b c d e f g h i"                       # 9 words: 2 grams
    docs = spark.createDataFrame(
        [(1, run9 + " keepme"),
         (2, "pre " + run9),
         (3, "x1 x2 x3 x4 x5 x6 x7 x8 y " + "x1 x2 x3 x4 x5 x6 x7 x8")],
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           cp.remove_dup_spans(docs, "doc_id", "text", n=8).collect()}
    assert out[1]["text_clean"] == "keepme" and out[1]["n_removed"] == 9
    assert out[2]["text_clean"] == "pre" and out[2]["n_removed"] == 9
    assert out[3]["n_removed"] == 0                  # within-doc only


def test_bm25_empty_terms_rejected(spark):
    import pytest
    with pytest.raises(ValueError, match="non-empty"):
        cp.bm25_scores(_bm25_docs(spark), "doc_id", "text", [])


def test_repetition_profile(spark):
    """Hand-computed line/n-gram repetition signals; empty docs report
    zeros; <n-word docs have no n-gram signal (word_shingles' whole-text
    fallback must NOT leak in as a phantom gram)."""
    docs = spark.createDataFrame(
        [(1, "a b\na b\nc"),            # dup line "a b"; modal 2-gram "a b" x2 of 4
         (2, "x y z"),                  # no repetition at all
         (3, ""),                       # empty -> all zeros
         (4, "w\n\nw"),                 # blank line dropped; both lines dup
         (5, "p q r s t p q r s t")],   # 5-gram "p q r s t" x2 of 6
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           cp.repetition_profile(docs, "doc_id", "text").collect()}
    assert out[1]["n_lines"] == 3
    assert out[1]["dup_line_frac"] == 1 / 3
    assert out[1]["dup_line_char_frac"] == 6 / 7      # "a b" twice of 7 chars
    assert out[1]["top_2gram_frac"] == 2 / 4          # a b, b a, a b, b c
    assert out[1]["dup_5gram_frac"] == 0.0            # single 5-gram
    assert out[2]["dup_line_frac"] == 0.0 and out[2]["top_2gram_frac"] == 0.5
    assert out[3]["n_lines"] == 0 and out[3]["top_2gram_frac"] == 0.0
    assert out[4]["n_lines"] == 2 and out[4]["dup_line_char_frac"] == 1.0
    assert out[5]["top_2gram_frac"] == 2 / 9
    assert out[5]["dup_5gram_frac"] == 2 / 6


def test_repetition_profile_single_word_no_phantom_gram(spark):
    """A 1-word doc: word_shingles(n=2) falls back to the whole text as
    one shingle — the operator's >=n guard must zero it out, not count
    it as a 2-gram occurrence."""
    docs = spark.createDataFrame([(1, "solo")], "doc_id long, text string")
    row = cp.repetition_profile(docs, "doc_id", "text").collect()[0]
    assert row["top_2gram_frac"] == 0.0 and row["dup_5gram_frac"] == 0.0


def test_with_repetition_signals_passthrough_and_collision(spark):
    """The composable form keeps every input column (so it can gate a
    scan in place) and refuses input columns that collide with a signal
    name rather than silently overwriting them."""
    docs = spark.createDataFrame([(1, "a b\na b\nc", "keep-me")],
                                 "doc_id long, text string, extra string")
    out = cp.with_repetition_signals(docs, "text").collect()[0]
    assert out["extra"] == "keep-me" and out["text"] == "a b\na b\nc"
    assert out["dup_line_frac"] == 1 / 3
    clash = docs.withColumn("n_lines", F.lit(9))
    with pytest.raises(ValueError, match="collide"):
        cp.with_repetition_signals(clash, "text")


# --- domain-mixture resampling ---------------------------------------------

def _mix_docs(spark):
    rows = ([(i, "A") for i in range(1, 5)]          # 4 docs
            + [(10 + i, "B") for i in range(2)]      # 2 docs
            + [(20 + i, "C") for i in range(2)])     # 2 docs, unweighted
    return spark.createDataFrame(rows, "doc_id long, source string")


def test_mixture_sample_epochs_and_fractions(spark):
    """weights {A:1, B:1}, total=12: A rate 12/(2*4)=1.5 -> 1 or 2
    copies per doc; B rate 12/(2*2)=3.0 -> exactly 3 copies; C dropped.
    copy_idx enumerates 1..n_copies; a rerun is bit-identical."""
    docs = _mix_docs(spark)
    out = sp.mixture_sample(docs, "doc_id", "source",
                            {"A": 1, "B": 1}, 12).collect()
    by_src = {}
    for r in out:
        by_src.setdefault(r["source"], {}).setdefault(r["doc_id"], []) \
            .append(r["copy_idx"])
    assert set(by_src) == {"A", "B"}
    for doc, idxs in by_src["A"].items():
        assert sorted(idxs) == list(range(1, len(idxs) + 1))
        assert len(idxs) in (1, 2)
    assert all(sorted(i) == [1, 2, 3] for i in by_src["B"].values())
    # deterministic: rerun identical
    again = sp.mixture_sample(docs, "doc_id", "source",
                              {"A": 1, "B": 1}, 12).collect()
    key = lambda r: (r["doc_id"], r["copy_idx"])
    assert sorted(map(key, out)) == sorted(map(key, again))


def test_mixture_sample_downsample_only(spark):
    """total below the weighted pool: rates < 1, every kept doc has
    exactly one copy and output size is near the budget."""
    docs = spark.createDataFrame([(i, "A") for i in range(1000)],
                                 "doc_id long, source string")
    out = sp.mixture_sample(docs, "doc_id", "source", {"A": 1}, 100)
    rows = out.collect()
    assert all(r["n_copies"] == 1 and r["copy_idx"] == 1 for r in rows)
    assert 60 <= len(rows) <= 140        # hash-grid binomial, ~100


def test_mixture_sample_validation(spark):
    docs = _mix_docs(spark)
    with pytest.raises(ValueError, match="non-empty"):
        sp.mixture_sample(docs, "doc_id", "source", {}, 10)
    with pytest.raises(ValueError, match="positive ints"):
        sp.mixture_sample(docs, "doc_id", "source", {"A": 0.5}, 10)
    with pytest.raises(ValueError, match="positive ints"):
        sp.mixture_sample(docs, "doc_id", "source", {"A": True}, 10)
    with pytest.raises(ValueError, match="max_epochs"):
        sp.mixture_sample(docs, "doc_id", "source", {"A": 1}, 10_000)
    # weights naming only absent sources -> empty frame, right schema
    empty = sp.mixture_sample(docs, "doc_id", "source", {"Z": 1}, 10)
    assert empty.count() == 0
    assert {"n_copies", "copy_idx"} <= set(empty.columns)


def test_temperature_weights():
    w1 = sp.temperature_weights({"a": 30, "b": 10}, 1.0, scale=100)
    assert w1 == {"a": 75, "b": 25}
    flat = sp.temperature_weights({"a": 30, "b": 10}, 1e9, scale=100)
    assert flat == {"a": 50, "b": 50}
    with pytest.raises(ValueError, match="temperature"):
        sp.temperature_weights({"a": 1}, 0)


def test_dedupe_lines(spark):
    """Exact repeats drop keep-first; blank lines always survive;
    leading whitespace distinguishes; single-line and empty docs pass
    through; out_col composes without clobbering."""
    docs = spark.createDataFrame(
        [(1, "a\nb\na\nc\nb"),        # repeats of a and b dropped
         (2, "x\n\n\nx\n  x"),        # blanks kept; "  x" != "x"
         (3, "solo"),
         (4, ""),
         (5, "d\nd\nd\nd")],
        "doc_id long, text string")
    out = {r["doc_id"]: r["clean"] for r in
           cp.dedupe_lines(docs, "text", out_col="clean").collect()}
    assert out[1] == "a\nb\nc"
    assert out[2] == "x\n\n\n  x"
    assert out[3] == "solo" and out[4] == ""
    assert out[5] == "d"
    # in-place form replaces the column
    rep = cp.dedupe_lines(docs, "text").where("doc_id = 1").collect()[0]
    assert rep["text"] == "a\nb\nc"


def test_dedupe_lines_global(spark):
    """Cross-document boilerplate lines drop EVERYWHERE (no keeper);
    within-document repeats alone never trigger (distinct-doc
    prevalence); blank lines always pass; min_docs thresholds; the
    operator is idempotent on its own output."""
    docs = spark.createDataFrame(
        [(1, "BANNER\nown 1\nFOOTER"),
         (2, "BANNER\nown 2\nFOOTER\nFOOTER"),
         (3, "own 3\nown 3\n\t\nBANNER"),
         (4, None),
         (5, "")],
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in cp.dedupe_lines_global(
        docs, "doc_id", "text", out_col="clean",
        hot_count_col="n_hot").collect()}
    assert out[1]["clean"] == "own 1"
    assert out[2]["clean"] == "own 2"      # every FOOTER occurrence gone
    # within-doc repeat survives; tab-only line survives
    assert out[3]["clean"] == "own 3\nown 3\n\t"
    assert out[4]["clean"] == "" and out[5]["clean"] == ""
    assert out[1]["n_hot"] == 2 and out[3]["n_hot"] == 1
    assert out[4]["n_hot"] == 0
    # input columns preserved, out_col added
    assert set(cp.dedupe_lines_global(
        docs, "doc_id", "text", out_col="c").columns) == {
            "doc_id", "text", "c"}

    # FOOTER is in only 2 docs: min_docs=3 keeps it, drops BANNER (3)
    out3 = {r["doc_id"]: r["text"] for r in cp.dedupe_lines_global(
        docs, "doc_id", "text", min_docs=3).collect()}
    assert out3[1] == "own 1\nFOOTER"
    assert out3[2] == "own 2\nFOOTER\nFOOTER"

    # idempotent: a second pass over the cleaned corpus finds nothing
    clean = cp.dedupe_lines_global(docs, "doc_id", "text")
    again = cp.dedupe_lines_global(clean, "doc_id", "text",
                                   hot_count_col="h")
    assert again.where(F.col("h") > 0).count() == 0

    # regression (gen_sf1 sweep): a FULLY-stripped doc cleans to "" —
    # indistinguishable from a one-blank-line doc by string inspection,
    # so removed_count_col must come from inside the rewrite
    only = spark.createDataFrame(
        [(1, "SAME"), (2, "SAME"), (3, "")],
        "doc_id long, text string")
    rc = {r["doc_id"]: (r["text"], r["nr"]) for r in cp.dedupe_lines_global(
        only, "doc_id", "text", removed_count_col="nr").collect()}
    assert rc[1] == ("", 1) and rc[2] == ("", 1) and rc[3] == ("", 0)

    # keep='min_doc': the smallest doc carrying the line retains its
    # copies; everyone else drops theirs
    ko = {r["doc_id"]: r for r in cp.dedupe_lines_global(
        docs, "doc_id", "text", keep="min_doc", out_col="clean",
        hot_count_col="n_hot").collect()}
    assert ko[1]["clean"] == "BANNER\nown 1\nFOOTER"   # owner of both
    assert ko[2]["clean"] == "own 2"
    assert ko[3]["clean"] == "own 3\nown 3\n\t"
    assert ko[1]["n_hot"] == 0 and ko[2]["n_hot"] == 2
    import pytest as _pt
    with _pt.raises(ValueError, match="keep"):
        cp.dedupe_lines_global(docs, "doc_id", "text", keep="first")


def test_quality_buckets(spark):
    """CCNet head/middle/tail: descending-score tertiles; scale mode
    matches parity on tie-free data; deterministic id tie-break;
    validation errors fire before any job."""
    import pytest

    df = spark.createDataFrame([(i, float(100 - i)) for i in range(9)],
                               "doc_id long, s double")
    got = {r["doc_id"]: r["quality_bucket"] for r in
           sp.quality_buckets(df, "doc_id", "s").collect()}
    assert got == {0: "head", 1: "head", 2: "head",
                   3: "middle", 4: "middle", 5: "middle",
                   6: "tail", 7: "tail", 8: "tail"}
    par = {r["doc_id"]: r["quality_bucket"] for r in
           sp.quality_buckets(df, "doc_id", "s", mode="parity").collect()}
    assert par == got
    # ties break by id IN BOTH MODES: equal scores -> lower ids take the
    # head slots (scale mode uses the composite (score, id) boundary
    # order statistic, so a tied run splits instead of shifting wholesale
    # — the r8 ADVICE finding)
    tied = spark.createDataFrame([(i, 1.0) for i in range(6)],
                                 "doc_id long, s double")
    want = {0: "head", 1: "head", 2: "head",
            3: "tail", 4: "tail", 5: "tail"}
    for mode in ("parity", "scale"):
        tb = {r["doc_id"]: r["quality_bucket"] for r in
              sp.quality_buckets(tied, "doc_id", "s",
                                 fractions=(0.5,), labels=("head", "tail"),
                                 mode=mode).collect()}
        assert tb == want, mode
    with pytest.raises(ValueError, match="labels"):
        sp.quality_buckets(df, "doc_id", "s", fractions=(0.5,),
                           labels=("a", "b", "c"))
    with pytest.raises(ValueError, match="ascending"):
        sp.quality_buckets(df, "doc_id", "s", fractions=(0.9, 0.1),
                           labels=("a", "b", "c"))
    # duplicate fractions would silently yield an empty middle bucket
    with pytest.raises(ValueError, match="ascending"):
        sp.quality_buckets(df, "doc_id", "s", fractions=(0.5, 0.5),
                           labels=("a", "b", "c"))
