"""Unit tests for the text / dedup / similarity operator library (the
oracle queries verify them end-to-end; these pin unit-level semantics)."""

import math

import pytest
from pyspark.sql import functions as F

from tradingview_data_pipeline_spark.operators import dedup as dd
from tradingview_data_pipeline_spark.operators import similarity as sim
from tradingview_data_pipeline_spark.operators import text as tx


def test_tokens_and_shingles_edges(spark):
    df = spark.createDataFrame(
        [("a b c d",), ("one  two",), ("solo",), ("",), ("   ",)], "text string")
    out = df.select(
        tx.token_count(F.col("text")).alias("n"),
        tx.word_shingles(F.col("text")).alias("sh")).collect()
    assert [r["n"] for r in out] == [4, 2, 1, 0, 0]
    assert out[0]["sh"] == ["a b c", "b c d"]
    assert out[1]["sh"] == ["one two"]      # <3 words -> whole normalized text
    assert out[2]["sh"] == ["solo"]
    assert out[3]["sh"] == [""]


def test_lang_id_argmax_and_tie(spark):
    df = spark.createDataFrame(
        [("the cat and the dog",),        # en
         ("el que la de los",),           # es
         ("xyzzy qwerty",),               # no markers -> und
         ("the el",)],                    # 1-1 tie -> first in table (en)
        "text string")
    out = tx.lang_id_table(df, "text", [])
    assert [r["predicted_lang"] for r in out.collect()] == ["en", "es", "und", "en"]


def test_exact_dedup_keeps_min_id(spark):
    df = spark.createDataFrame(
        [(1, "same text"), (2, "same text"), (3, "other")], "doc_id long, text string")
    kept = dd.drop_exact_duplicates(df, "text", "doc_id")
    assert sorted(r["doc_id"] for r in kept.collect()) == [1, 3]
    groups = {r["keeper_doc_id"]: r["copies"]
              for r in dd.exact_dedup_groups(df, "text", "doc_id").collect()}
    assert groups == {1: 2, 3: 1}


def test_minhash_detects_near_duplicates(spark):
    base = "the quick brown fox jumps over the lazy dog and runs far away today"
    near = base.replace("runs", "walks")
    other = "completely different content about spark window aggregation internals"
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, other), (4, base)], "doc_id long, text string")
    pairs = dd.lsh_candidate_pairs(df, "doc_id", "text", k=8, bands=4)
    got = {(r["doc_a"], r["doc_b"]) for r in pairs.collect()}
    assert (1, 4) in got                     # exact copy always a candidate
    verified = dd.jaccard_verify(pairs, dd.shingle_sets(df, "doc_id", "text"),
                                 "doc_id", threshold=0.3)
    v = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in verified.collect()}
    assert v[(1, 4)] == 1.0
    for (a, b) in v:
        assert 3 not in (a, b)               # unrelated doc never survives


def _py_shingles(text):
    words = text.split()
    if len(words) < 3:
        return {" ".join(words)}
    return {" ".join(words[i:i + 3]) for i in range(len(words) - 2)}


def test_jaccard_verify_matches_python_set_jaccard(spark):
    texts = {1: "alpha beta gamma delta epsilon zeta",
             2: "alpha beta gamma delta epsilon zeta",      # exact copy
             3: "one two three four five",                  # disjoint
             4: "spam spam spam spam spam eggs",            # repeated words
             5: "spam spam spam eggs ham"}
    docs = spark.createDataFrame(
        list(texts.items()) + [(6, None)], "doc_id long, text string")
    sets = dd.shingle_sets(docs, "doc_id", "text").unionByName(
        spark.createDataFrame([(7, [])], "doc_id long, ss array<bigint>"))
    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (4, 5), (1, 4), (1, 6), (2, 7), (6, 7)],
        "doc_a long, doc_b long")
    out = dd.jaccard_verify(pairs, sets, "doc_id")
    assert dict(out.dtypes) == {"doc_a": "bigint", "doc_b": "bigint",
                                "inter": "bigint", "union_n": "bigint",
                                "jaccard": "double"}
    got = {(r["doc_a"], r["doc_b"]): (r["inter"], r["union_n"], r["jaccard"])
           for r in out.collect()}
    want = {}
    for a, b in [(1, 2), (1, 3), (4, 5), (1, 4)]:
        sa, sb = _py_shingles(texts[a]), _py_shingles(texts[b])
        inter, union = len(sa & sb), len(sa | sb)
        want[(a, b)] = (inter, union, inter / union)
    assert got == want                  # docs 6 (NULL) and 7 (empty) absent
    assert got[(1, 2)][2] == 1.0
    assert got[(1, 3)][0] == 0 and got[(4, 5)] == (2, 3, 2 / 3)


def test_minhash_long_matches_array_form(spark):
    df = spark.createDataFrame(
        [(i, f"w{i} x{i} y{i} z{i} common words here") for i in range(6)],
        "doc_id long, text string")
    arr = dd.with_minhash_signature(df, "text", ["doc_id"], k=4)
    from_arr = {(r["doc_id"], j): r["sig"][j] for r in arr.collect() for j in range(4)}
    long = dd.minhash_signatures_long(df, "doc_id", "text", k=4)
    from_long = {(r["doc_id"], r["j"]): r["minhash"] for r in long.collect()}
    assert from_arr == from_long


def test_simhash_forms_agree_and_hamming(spark):
    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "alpha beta gamma delta epsilon"),
         (3, "unrelated totally different words entirely"), (4, "")],
        "doc_id long, text string")
    col_form = {r["doc_id"]: r["s"] for r in
                df.select("doc_id", dd.simhash(F.col("text"), 16).alias("s")).collect()}
    tab_form = {r["doc_id"]: r["simhash"] for r in
                dd.simhash_table(df, "doc_id", "text", 16).collect()}
    assert col_form == tab_form
    assert col_form[4] is None               # empty doc -> NULL signature
    d12 = bin(col_form[1] ^ col_form[2]).count("1")
    d13 = bin(col_form[1] ^ col_form[3]).count("1")
    assert d12 < d13                         # similar docs closer in Hamming space


def test_pii_counts_and_redaction(spark):
    df = spark.createDataFrame([
        (1, "reach me at jo.doe+x@corp.example.com or +91 98765 43210 ok"),
        (2, "server 192.168.1.7 logged card 4111 1111 1111 1111 at 9pm"),
        (3, "released on 2026-08-13 with 42 fixes and no pii"),
        (4, "call (022) 2345 6789 or 555-0123 today"),
    ], "id long, text string")
    out = {r["id"]: r for r in df.select(
        "id", tx.pii_counts(F.col("text")).alias("c"),
        tx.redact_pii(F.col("text")).alias("r")).collect()}
    assert out[1]["c"]["email"] == 1 and out[1]["c"]["phone"] == 1
    assert out[1]["r"] == "reach me at [PII:email] or [PII:phone] ok"
    assert out[2]["c"]["ipv4"] == 1 and out[2]["c"]["card"] == 1
    # redaction order: the card-shaped run is card, not phone chunks
    assert out[2]["r"] == \
        "server [PII:ipv4] logged card [PII:card] at 9pm"
    # dates and plain numbers are NOT phone-shaped (3-digit group floor)
    assert dict(out[3]["c"].asDict()) == \
        {"email": 0, "ipv4": 0, "card": 0, "phone": 0}
    assert out[3]["r"] == "released on 2026-08-13 with 42 fixes and no pii"
    assert out[4]["c"]["phone"] == 2
    assert out[4]["r"] == "call [PII:phone] or [PII:phone] today"


def test_strip_markup(spark):
    html = ("<html><head><style>p{color:red}</style></head><body>"
            "<p>Hello <b>world</b></p><!-- note --><script>var x=1;"
            "</script>A &amp;amp; B &lt;tag&gt;</body></html>")
    df = spark.createDataFrame([(1, html), (2, "plain text stays")],
                               "id long, t string")
    got = {r["id"]: r["s"] for r in
           df.select("id", tx.strip_markup(F.col("t")).alias("s")).collect()}
    # scripts/styles/comments/tags gone; entities single-decoded AFTER
    # tag removal so decoded brackets survive as text
    assert got[1] == "Hello world A &amp; B <tag>"
    assert got[2] == "plain text stays"


def test_luhn_validation(spark):
    df = spark.createDataFrame([
        (1, "4111 1111 1111 1111"),      # valid test number
        (2, "4111-1111-1111-1112"),      # bad checksum
        (3, "378282246310005"),          # valid 15-digit amex shape
        (4, "1234"),                     # too short
        (5, ""),
    ], "id long, t string")
    got = {r["id"]: r["v"] for r in
           df.select("id", tx.luhn_valid(F.col("t")).alias("v")).collect()}
    assert got == {1: True, 2: False, 3: True, 4: False, 5: False}


def test_simhash_table_identical_to_column_form(spark):
    """The numpy mapInPandas signature path must be integer-identical to
    the column form ``dd.simhash`` — including groups that STRADDLE
    Arrow batches (forced with a tiny maxRecordsPerBatch so the carry
    buffer is exercised) and zero-token docs (NULL signature both
    ways)."""
    import random
    rng = random.Random(7)
    vocab = [f"tok{i}" for i in range(300)]
    rows = [(i, " ".join(rng.choices(vocab, k=rng.randint(1, 40))))
            for i in range(120)]
    rows += [(900, ""), (901, "   ")]          # zero-token docs
    df = spark.createDataFrame(rows, "doc_id long, text string")

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key, None)
    try:
        spark.conf.set(key, "7")               # force batch straddling
        got_a = {r["doc_id"]: r["simhash"] for r in dd.simhash_table(
            df, "doc_id", "text", bits=60).collect()}
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)
    got_c = {r["doc_id"]: r["s"] for r in df.select(
        "doc_id", dd.simhash(F.col("text"), 60).alias("s")).collect()}
    assert got_a == got_c
    assert got_a[900] is None and got_a[901] is None


def test_simhash_banded_retrieval_pigeonhole_and_filter(spark):
    # synthetic signatures injected via sigs= to pin the banding math
    # (60 bits, 4 bands of 15): distance <= 3 always shares a band and is
    # found; a 4-bit flip confined to ONE band still band-collides on the
    # other three but must be removed by the exact hamming filter
    sigs = spark.createDataFrame(
        [(1, 0), (2, 7), (3, 1 + 2**20 + 2**40), (4, 15)],
        "doc_id long, simhash long")
    dummy = sigs.select("doc_id").withColumn("text", F.lit("x"))
    got = {(r["doc_a"], r["doc_b"]): r["hamming"] for r in
           dd.simhash_candidate_pairs(dummy, "doc_id", "text",
                                      sigs=sigs).collect()}
    # (1,2): bits 0-2, band 0 only -> h3; (1,3): one bit in each of bands
    # 0/1/2, band 3 shared -> h3; (2,4): bit 3 only -> h1; (1,4): bits
    # 0-3 in band 0 -> band-found but h4 filtered; (2,3)/(3,4): h4/h5
    assert got == {(1, 2): 3, (1, 3): 3, (2, 4): 1}


def test_simhash_banded_retrieval_recall_property(spark):
    # recall guarantee on random signatures: 40 random 60-bit sigs, each
    # with a twin at hamming distance 1..3 (<= bands-1) — EVERY twin pair
    # must be retrieved, regardless of which bits flipped
    import random
    rng = random.Random(7)
    rows = []
    expected = set()
    for i in range(40):
        base = rng.getrandbits(60)
        d = rng.randint(1, 3)
        twin = base
        for bit in rng.sample(range(60), d):
            twin ^= 1 << bit
        a, b = 2 * i, 2 * i + 1
        rows += [(a, base), (b, twin)]
        expected.add((a, b, d))
    sigs = spark.createDataFrame(rows, "doc_id long, simhash long")
    dummy = sigs.select("doc_id").withColumn("text", F.lit("x"))
    got = {(r["doc_a"], r["doc_b"], r["hamming"]) for r in
           dd.simhash_candidate_pairs(dummy, "doc_id", "text",
                                      sigs=sigs).collect()}
    assert expected <= got          # perfect recall within the radius
    for _, _, h in got:
        assert h <= 3               # filter precision


def test_simhash_forms_agree_at_60_bits(spark):
    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "alpha beta gamma delta epsilon"),
         (3, "unrelated totally different words entirely"), (4, "")],
        "doc_id long, text string")
    col_form = {r["doc_id"]: r["s"] for r in
                df.select("doc_id", dd.simhash(F.col("text"), 60).alias("s")).collect()}
    tab_form = {r["doc_id"]: r["simhash"] for r in
                dd.simhash_table(df, "doc_id", "text", 60).collect()}
    assert col_form == tab_form
    assert col_form[4] is None
    assert all(v is None or 0 <= v < 2**60 for v in col_form.values())


def test_simhash_candidate_pairs_text_and_bucket_cap(spark):
    boiler = "identical boilerplate text repeated across many documents here"
    rows = [(i, boiler) for i in range(1, 21)] + \
        [(101, "rare unique sentence about columnar engines"),
         (102, "rare unique sentence about columnar engines")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {(r["doc_a"], r["doc_b"]): r["hamming"] for r in
           dd.simhash_candidate_pairs(df, "doc_id", "text",
                                      max_bucket=10).collect()}
    assert got == {(101, 102): 0}   # 20-doc degenerate family capped away
    uncapped = dd.simhash_candidate_pairs(df, "doc_id", "text",
                                          max_bucket=None)
    assert uncapped.where("doc_a < 21 AND doc_b < 21").count() == 190


def test_cosine_topk_matches_numpy(spark):
    import numpy as np
    rng = np.random.default_rng(5)
    vecs = rng.normal(size=(20, 8)).astype("float32")
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(20)],
        "vec_id long, embedding array<float>")
    out = sim.brute_force_topk(df, df.where("vec_id = 0"), "vec_id", "embedding", k=3)
    got = [(r["neighbor_id"], r["cos"]) for r in
           out.orderBy("rk").collect()]
    v = vecs.astype("float64")
    cos = v @ v[0] / (np.linalg.norm(v, axis=1) * np.linalg.norm(v[0]))
    cos[0] = -np.inf
    expect = np.argsort(-cos)[:3]
    assert [g[0] for g in got] == list(expect)
    for nid, c in got:
        assert c == pytest.approx(cos[nid], abs=1e-6)


def test_blas_topk_matches_fold_topk(spark):
    """BLAS (mapInPandas matmul) path returns the same neighbors/ranks as
    the fold baseline on the real embeddings fixture, and survives a
    multi-partition corpus (per-batch local top-k composes exactly)."""
    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet") \
        .repartition(7)
    q = e.where(F.col("vec_id") < 5)
    base = sim.brute_force_topk(e, q, "vec_id", "embedding", k=5)
    blas = sim.brute_force_topk_blas(e, q, "vec_id", "embedding", k=5)
    b = {(r["query_id"], r["rk"]): (r["neighbor_id"], r["cos"])
         for r in base.collect()}
    g = {(r["query_id"], r["rk"]): (r["neighbor_id"], r["cos"])
         for r in blas.collect()}
    assert set(b) == set(g) and len(b) == 25
    for key in b:
        assert b[key][0] == g[key][0], key                 # same neighbor
        assert g[key][1] == pytest.approx(b[key][1], abs=1e-9)


def test_ivf_topk_multiprobe_recovers_boundary_neighbor(spark):
    # centroids pinned by symmetric members: bucket 0 -> (1,0), bucket 1
    # -> (0,1). The query (0.8, 0.75) assigns to bucket 0, but its #2
    # neighbor by cosine lives in bucket 1 — own-cell search (nprobe=1)
    # replaces it with a worse in-cell vector; nprobe=2 recovers it.
    corpus = spark.createDataFrame(
        [(1, [1.0, 0.4], 0), (2, [1.0, -0.4], 0),
         (3, [0.4, 1.0], 1), (4, [-0.4, 1.0], 1)],
        "vec_id long, embedding array<float>, label int")
    q = spark.createDataFrame([(100, [0.8, 0.75])],
                              "vec_id long, embedding array<float>")
    cent = sim.group_centroids_quantized(corpus, "label", "embedding")

    def neighbors(nprobe):
        out = sim.ivf_topk(corpus, q, "vec_id", "embedding", "label",
                           cent, nprobe=nprobe, k=2)
        return [r["neighbor_id"] for r in out.orderBy("rk").collect()]

    assert neighbors(1) == [1, 2]      # trapped in the assigned cell
    assert neighbors(2) == [1, 3]      # boundary neighbor recovered


def test_embedding_near_dups_threshold(spark):
    df = spark.createDataFrame(
        [(1, [1.0, 0.0], 0), (2, [1.0, 0.01], 0), (3, [0.0, 1.0], 0),
         (4, [1.0, 0.0], 1)],                 # other bucket: never compared
        "vec_id long, embedding array<float>, label int")
    out = sim.embedding_near_dups_int(df, "vec_id", "embedding", "label",
                                      threshold=0.99)
    pairs = {(r["id_a"], r["id_b"]) for r in out.collect()}
    assert pairs == {(1, 2)}


def test_embedding_near_dups_bucket_cap(spark):
    # a 12-member degenerate cluster is skipped wholesale under the cap
    # (its c^2/2 dot products never run); the small bucket still pairs
    rows = [(i, [1.0, 0.0], 0) for i in range(1, 13)] + \
        [(101, [0.0, 1.0], 7), (102, [0.0, 1.0], 7)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    capped = {(r["id_a"], r["id_b"]) for r in
              sim.embedding_near_dups_int(df, "vec_id", "embedding", "label",
                                          threshold=0.99,
                                          max_bucket=10).collect()}
    assert capped == {(101, 102)}
    uncapped = sim.embedding_near_dups_int(df, "vec_id", "embedding", "label",
                                           threshold=0.99, max_bucket=None)
    assert uncapped.where("bk = 0").count() == 66


def test_lsh_bucket_cap_drops_degenerate_buckets(spark):
    # a boilerplate family whose identical signatures land 12 docs in the
    # same bucket of every band: over the cap, the whole family is skipped
    # (the quadratic path never opens); a small bucket still pairs
    boiler = ("subscribe to our newsletter for updates and follow us on "
              "social media channels")
    base = "the quick brown fox jumps over the lazy dog and runs far away today"
    rows = [(i, boiler) for i in range(1, 13)] + [(101, base), (102, base)]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    capped = {(r["doc_a"], r["doc_b"]) for r in
              dd.lsh_candidate_pairs(df, "doc_id", "text",
                                     max_bucket=10).collect()}
    assert capped == {(101, 102)}

    family = {(a, b) for a in range(1, 13) for b in range(a + 1, 13)}
    uncapped = {(r["doc_a"], r["doc_b"]) for r in
                dd.lsh_candidate_pairs(df, "doc_id", "text",
                                       max_bucket=None).collect()}
    assert uncapped == family | {(101, 102)}     # 66 quadratic pairs back


def test_connected_components_chains_and_keeper(spark):
    # components: {1,2,3,9} via chain 1-2, 2-3, 3-9; {5,6}; isolated via
    # dedup_clusters only
    pairs = spark.createDataFrame(
        [(2, 3), (1, 2), (3, 9), (5, 6)], "doc_a long, doc_b long")
    comp = {r["doc_id"]: r["cluster_id"] for r in
            dd.connected_components(pairs).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 9: 1, 5: 5, 6: 5}


def test_connected_components_driver_path_is_a_local_table(spark):
    """The driver path hands its union-find result to the JVM as an Arrow
    table: a LocalTableScan, no PythonRDD scan for Python workers to
    serve. String ids and an empty pair set keep their id type."""
    cases = [([("b", "c"), ("a", "b"), ("x", "y")], "string",
              {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x"}),
             ([], "bigint", {}), ([], "string", {})]
    for edges, id_type, want in cases:
        pairs = spark.createDataFrame(edges, f"doc_a {id_type}, doc_b {id_type}")
        comp = dd.connected_components(pairs)
        plan = comp._jdf.queryExecution().executedPlan().toString()
        assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan
        assert comp.schema.simpleString() == \
            f"struct<doc_id:{id_type},cluster_id:{id_type}>"
        assert {r["doc_id"]: r["cluster_id"] for r in comp.collect()} == want


def test_dedup_clusters_end_to_end(spark):
    base = "the quick brown fox jumps over the lazy dog and runs far away today"
    df = spark.createDataFrame(
        [(1, base), (2, base), (3, base.replace("runs", "walks")),
         (4, "entirely different text about columnar execution engines here now")],
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           dd.dedup_clusters(df, "doc_id", "text", jaccard_threshold=0.3).collect()}
    assert out[1]["cluster_id"] == out[2]["cluster_id"] == 1
    assert out[1]["is_keeper"] and not out[2]["is_keeper"]
    assert out[4]["cluster_id"] == 4 and out[4]["is_keeper"]   # singleton


def test_connected_components_distributed_path_graph_converges(spark):
    # 50-node path graph (diameter 49) forced onto the distributed code
    # path: plain one-hop label propagation would need 49 rounds; pointer
    # jumping must converge within max_iter=10 (reach ~2(d+1) per round).
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(49)], "doc_a long, doc_b long")
    comp = {r["doc_id"]: r["cluster_id"] for r in
            dd.connected_components(pairs, max_iter=10,
                                    driver_threshold=0).collect()}
    assert comp == {i: 0 for i in range(50)}


def test_connected_components_raises_at_iteration_cap(spark):
    import pytest
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(49)], "doc_a long, doc_b long")
    with pytest.raises(RuntimeError, match="did not converge"):
        dd.connected_components(pairs, max_iter=1, driver_threshold=0)


def test_connected_components_distributed_matches_driver_path(spark):
    # same clustering from the union-find (driver) and fixpoint
    # (distributed) paths on an irregular multi-component graph
    edges = [(1, 2), (2, 3), (3, 9), (5, 6), (10, 11), (11, 12), (12, 10),
             (20, 25), (25, 21), (21, 29), (29, 28)]
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    drv = {r["doc_id"]: r["cluster_id"] for r in
           dd.connected_components(pairs).collect()}
    dist = {r["doc_id"]: r["cluster_id"] for r in
            dd.connected_components(pairs, driver_threshold=0).collect()}
    assert drv == dist


def test_quantize_int8_bounds_zero_vectors_and_ranking(spark):
    from pyspark.sql import functions as F
    df = spark.createDataFrame(
        [(1, [1.0, -2.0, 0.5]), (2, [0.0, 0.0, 0.0]),
         (3, [100.0, 50.0, -100.0])],
        "vec_id long, embedding array<float>")
    q = df.select("vec_id", sim.quantize_int8(F.col("embedding")).alias("q"))
    got = {r["vec_id"]: r["q"] for r in q.collect()}
    # per-vector max|x| maps to ±127; everything within [-127, 127]
    assert got[1] == [63, -127, 31]          # floor(x*127/2)
    assert got[2] == [0, 0, 0]               # zero vector -> zeros
    assert got[3][0] == 127 and got[3][2] == -127
    assert all(-127 <= v <= 127 for vs in got.values() for v in vs)

    # double-rounding edge: with DOUBLE inputs, x*127 is inexact (53-bit
    # mantissa * 7 bits overflows), so x = -max|x| can evaluate to just
    # below -127 and floor to -128 — the clamp must hold the documented
    # lower bound. (float32 inputs can't trigger this: 24-bit mantissa
    # * 127 is exact in double.) mx found by search: floor(-mx*127/mx)
    # == -128 for this value without the clamp.
    mx = 1.771150605405849
    dd_df = spark.createDataFrame([(9, [-mx, mx / 2.0])],
                                  "vec_id long, embedding array<double>")
    dq = dd_df.select(sim.quantize_int8(F.col("embedding")).alias("q")) \
        .collect()[0]["q"]
    assert dq[0] == -127

    # quantized top-1 agrees with exact cosine top-1 on well-separated
    # directions (quantization preserves coarse geometry)
    base = spark.createDataFrame(
        [(10, [1.0, 0.0]), (11, [0.0, 1.0]), (12, [0.9, 0.1])],
        "vec_id long, embedding array<float>")
    queries = base.where(F.col("vec_id") == 10)
    qq = sim.quantized_topk(base, queries, "vec_id", "embedding", k=1)
    ex = sim.brute_force_topk(base, queries, "vec_id", "embedding", k=1)
    assert qq.collect()[0]["neighbor_id"] == ex.collect()[0]["neighbor_id"] == 12


# ---------------------------------------------------------------------------
# Hyperplane SimHash LSH over embeddings (q32's round-6 scale reshape)
# ---------------------------------------------------------------------------

def _unit_vectors(n, dim=8, seed=7, planted=()):
    """Deterministic unit vectors; ``planted`` = (src, dst, eps) tuples
    making dst a perturbed near-dup of src."""
    import numpy as np
    rng = np.random.default_rng(seed)
    m = rng.standard_normal((n, dim))
    m /= np.linalg.norm(m, axis=1, keepdims=True)
    for src, dst, eps in planted:
        v = m[src] + eps * rng.standard_normal(dim)
        m[dst] = v / np.linalg.norm(v)
    return m


def test_embedding_lsh_bands_match_python_reference(spark):
    """Band keys equal an independent integer reference built from
    ``hyperplane_signs``: floor(v·2^20) on the float32 values, one sign
    bit per hyperplane (bit-sum >= 0), bit-packed per band."""
    import numpy as np
    m = _unit_vectors(40, dim=8)
    df = spark.createDataFrame(
        [(i, [float(x) for x in row]) for i, row in enumerate(m)],
        "vec_id bigint, embedding array<float>")
    got = sorted(map(tuple, sim.embedding_lsh_bands(
        df, "vec_id", "embedding", bits=24, bands=4, dim=8).collect()))
    signs = sim.hyperplane_signs(24, 8)
    chunk = 24 // 4
    exp = []
    for i, row in enumerate(m):
        vq = [math.floor(float(np.float32(x)) * 2 ** 20) for x in row]
        bits = [1 if sum(s * x for s, x in zip(hp, vq)) >= 0 else 0
                for hp in signs]
        for pos in range(4):
            key = sum(b << k for k, b in
                      enumerate(bits[pos * chunk:(pos + 1) * chunk]))
            exp.append((i, pos, key))
    assert got == sorted(exp) and len(got) == 40 * 4


def test_embedding_near_dups_lsh_finds_planted_pairs(spark):
    planted = [(0, 10, 0.02), (3, 25, 0.02), (7, 31, 0.02)]
    m = _unit_vectors(40, dim=8, planted=planted)
    df = spark.createDataFrame(
        [(i, [float(x) for x in row]) for i, row in enumerate(m)],
        "vec_id bigint, embedding array<float>")
    out = sim.embedding_near_dups_lsh(df, "vec_id", "embedding",
                                      threshold=0.95, bits=24, bands=4, dim=8)
    rows = {r.vec_id: r for r in out.collect()}
    assert len(rows) == 40
    hot = {i for pair in planted for i in pair[:2]}
    for i in hot:
        assert rows[i].neardup_n >= 1, f"planted near-dup {i} not retrieved"
    # signature sanity: bands-many '-'-joined keys
    assert all(len(r.sig_key.split("-")) == 4 for r in rows.values())
    # vectors far from everything have degree 0 (8-dim randoms can brush
    # 0.95 only via the planted pairs at this n)
    assert sum(r.neardup_n for r in rows.values()) == 2 * len(planted)


def test_embedding_near_dups_lsh_bucket_cap_drops_degenerate(spark):
    # 30 identical vectors (one degenerate LSH bucket per band) + cap 10:
    # the family is dropped from pair generation, not exploded into 435
    # pairs; signatures still reported for every vector.
    base = [1.0, 0.0, 0.0, 0.0]
    rows = [(i, base) for i in range(30)]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    out = sim.embedding_near_dups_lsh(df, "vec_id", "embedding",
                                      threshold=0.9, bits=8, bands=2, dim=4,
                                      max_bucket=10)
    got = out.collect()
    assert len(got) == 30
    assert all(r.neardup_n == 0 for r in got)
    assert len({r.sig_key for r in got}) == 1


def test_embedding_near_dups_exact_bucketed(spark):
    # the exact intra-bucket form (valid when buckets come from a
    # properly sized quantizer, as SemDeDup's clusters are)
    rows = [(0, [1.0, 0.0], 0), (1, [0.999, 0.04], 0),   # same bucket, near
            (2, [0.0, 1.0], 1), (3, [1.0, 0.0], 1)]      # cross-bucket pair unseen
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>, label int")
    out = sim.embedding_near_dups_int(df, "vec_id", "embedding", "label",
                                      threshold=0.95).collect()
    assert [(r.id_a, r.id_b) for r in out] == [(0, 1)]


def test_suggest_lsh_chunk_bits_sizing():
    # linear-candidate rule: bucket count tracks corpus size
    assert sim.suggest_lsh_chunk_bits(2_000) == 9
    assert sim.suggest_lsh_chunk_bits(200_000) == 16
    assert sim.suggest_lsh_chunk_bits(200_000_000) == 26
    assert sim.suggest_lsh_chunk_bits(1) == 4          # floor
    # 10x data -> ~+3.3 bits: bucket population stays ~constant
    assert sim.suggest_lsh_chunk_bits(20_000) - sim.suggest_lsh_chunk_bits(2_000) in (3, 4)


def test_embedding_near_dups_lsh_size_hint_resizes_keys(spark):
    m = _unit_vectors(30, dim=8, planted=[(2, 17, 0.02)])
    df = spark.createDataFrame(
        [(i, [float(x) for x in row]) for i, row in enumerate(m)],
        "vec_id bigint, embedding array<float>")
    out = sim.embedding_near_dups_lsh(df, "vec_id", "embedding",
                                      threshold=0.95, bands=4, dim=8,
                                      size_hint=30)
    rows = {r.vec_id: r for r in out.collect()}
    # chunk = suggest_lsh_chunk_bits(30) = 4 -> band keys all < 2^4
    assert all(int(k) < 16 for r in rows.values() for k in r.sig_key.split("-"))
    assert rows[2].neardup_n >= 1 and rows[17].neardup_n >= 1


def test_embedding_lsh_null_vectors_dropped(spark):
    df = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0, 0.0]), (1, None), (2, [0.0, 1.0, 0.0, 0.0])],
        "vec_id bigint, embedding array<float>")
    br = sim.embedding_lsh_bands(df, "vec_id", "embedding",
                                 bits=8, bands=2, dim=4).collect()
    assert {r.vec_id for r in br} == {0, 2} and len(br) == 4
    out = sim.embedding_near_dups_lsh(df, "vec_id", "embedding",
                                      threshold=0.9, bits=8, bands=2, dim=4)
    assert {r.vec_id for r in out.collect()} == {0, 2}


def test_embedding_lsh_rejects_oversized_chunk(spark):
    df = spark.createDataFrame([(0, [1.0, 0.0])],
                               "vec_id bigint, embedding array<float>")
    with pytest.raises(AssertionError):
        sim.embedding_lsh_bands(df, "vec_id", "embedding",
                                bits=96, bands=1, dim=2)


def test_suggest_minhash_bands_s_curve():
    # k=8: midpoints b=1 -> 1.0, b=2 -> 0.84, b=4 -> 0.5, b=8 -> 0.125
    assert dd.suggest_minhash_bands(8, 0.5) == 4
    assert dd.suggest_minhash_bands(8, 0.8) == 2
    assert dd.suggest_minhash_bands(8, 0.12) == 8
    # k=16 at a near-dup threshold: fewer, longer bands than at 0.2
    assert dd.suggest_minhash_bands(16, 0.9) < dd.suggest_minhash_bands(16, 0.2)


# --- dimensionality reduction (PCA / random projection) ---------------------

def _pca_reference(rows, out_dim, *, center=True, grid=10_000):
    """Pure-Python mirror of pca_fit's exact-moment contract."""
    import numpy as np

    d = len(rows[0])
    n = len(rows)
    q = [[math.floor(x * grid) for x in v] for v in rows]
    s = [sum(q[r][i] for r in range(n)) for i in range(d)]
    g = [[sum(q[r][i] * q[r][j] for r in range(n)) for j in range(d)]
         for i in range(d)]
    if center:
        num = [[n * g[i][j] - s[i] * s[j] for j in range(d)]
               for i in range(d)]
        den = float(n) * n * grid * grid
    else:
        num, den = g, float(n) * grid * grid
    cov = np.array([[num[i][j] / den for j in range(d)] for i in range(d)])
    evals, evecs = np.linalg.eigh(cov)
    order = np.argsort(evals)[::-1][:out_dim]
    comp = evecs[:, order]
    for c in range(comp.shape[1]):
        piv = int(np.argmax(np.abs(comp[:, c])))
        if comp[piv, c] < 0:
            comp[:, c] = -comp[:, c]
    return comp, evals[order]


def _planted_vectors(n=120, d=8):
    """Deterministic rank-2-dominant vectors (no RNG: trig lattice)."""
    rows = []
    for i in range(n):
        a = math.sin(0.37 * i)
        b = math.cos(0.21 * i + 1.0)
        noise = [0.01 * math.sin(1.7 * i + 0.3 * j) for j in range(d)]
        v = [2.0 * a + noise[0], -1.5 * a + noise[1], 1.0 * b + noise[2],
             0.5 * b + noise[3]] + noise[4:]
        rows.append([float(x) for x in v])
    return rows


def test_pca_fit_bit_equal_to_python_reference(spark):
    import numpy as np

    rows = _planted_vectors()
    df = spark.createDataFrame([(i, v) for i, v in enumerate(rows)],
                               "id long, vec array<double>")
    m = sim.pca_fit(df, "vec", 2)
    ref_c, ref_e = _pca_reference(rows, 2)
    assert np.array_equal(m.components, ref_c)
    assert np.array_equal(m.explained, ref_e)
    assert m.n == len(rows)
    # uncentered variant too
    m0 = sim.pca_fit(df, "vec", 2, center=False)
    ref_c0, _ = _pca_reference(rows, 2, center=False)
    assert np.array_equal(m0.components, ref_c0)


def test_pca_layout_independent_fit_and_project(spark):
    import numpy as np

    rows = _planted_vectors()
    df = spark.createDataFrame([(i, v) for i, v in enumerate(rows)],
                               "id long, vec array<double>")
    m1 = sim.pca_fit(df, "vec", 3)
    m2 = sim.pca_fit(df.repartition(7), "vec", 3)
    assert np.array_equal(m1.components, m2.components)
    p1 = {r["id"]: r["vec"] for r in
          sim.pca_project(df, "vec", m1).collect()}
    p2 = {r["id"]: r["vec"] for r in
          sim.pca_project(df.repartition(5), "vec", m1).collect()}
    assert p1 == p2  # bit-identical projected rows under any layout


def test_pca_captures_planted_subspace(spark):
    """Top-2 components span the planted rank-2 subspace (principal
    angles ~0) and explained variance dominates the residual."""
    import numpy as np

    rows = _planted_vectors()
    df = spark.createDataFrame([(i, v) for i, v in enumerate(rows)],
                               "id long, vec array<double>")
    m = sim.pca_fit(df, "vec", 2)
    x = np.array(rows) - np.array(rows).mean(axis=0)
    _, _, vt = np.linalg.svd(x, full_matrices=False)
    ref = vt[:2].T
    # principal angles between the two 2-d subspaces
    sv = np.linalg.svd(ref.T @ m.components, compute_uv=False)
    assert np.all(sv > 0.999)
    full = sim.pca_fit(df, "vec", len(rows[0]))
    assert sum(full.explained[:2]) / sum(full.explained) > 0.98


def test_pca_project_out_col_and_empty_guard(spark):
    rows = _planted_vectors(n=10)
    df = spark.createDataFrame([(i, v) for i, v in enumerate(rows)],
                               "id long, vec array<double>")
    m = sim.pca_fit(df, "vec", 2)
    out = sim.pca_project(df, "vec", m, out_col="pc").collect()
    assert {len(r["pc"]) for r in out} == {2}
    assert {len(r["vec"]) for r in out} == {len(rows[0])}  # original kept
    empty = spark.createDataFrame([], "id long, vec array<double>")
    with pytest.raises(ValueError, match="empty input"):
        sim.pca_fit(empty, "vec", 2)


def test_random_projection_deterministic_and_jl(spark):
    import numpy as np

    rows = _planted_vectors(n=60, d=8)
    df = spark.createDataFrame([(i, v) for i, v in enumerate(rows)],
                               "id long, vec array<double>")
    p1 = {r["id"]: r["vec"] for r in
          sim.random_projection(df, "vec", 4, seed=1).collect()}
    p2 = {r["id"]: r["vec"] for r in
          sim.random_projection(df.repartition(3), "vec", 4, seed=1)
          .collect()}
    assert p1 == p2
    p3 = {r["id"]: r["vec"] for r in
          sim.random_projection(df, "vec", 4, seed=2).collect()}
    assert p1 != p3  # seed matters
    # JL sanity: mean squared norm is preserved in expectation
    orig = np.mean([np.dot(v, v) for v in rows])
    proj = np.mean([np.dot(p1[i], p1[i]) for i in p1])
    assert 0.5 * orig < proj < 1.5 * orig


def test_pca_preserves_planted_near_dup_pairs(spark):
    """The SemDeDup pre-step claim: when the corpus has low-rank
    structure, near-dup pairs (cos >= threshold) survive projection.
    Planted: rank-4 vectors in d=16 with per-doc noise, plus 10 planted
    near-dup partners — after PCA to 4 dims every planted pair is still
    a top cosine pair, and top-5 ANN recall stays high.  (On an
    ISOTROPIC corpus — e.g. the synthetic embeddings fixture, where 8
    of 64 dims carry only ~21% of variance — aggressive projection
    rightly loses rank fidelity; the operator's win condition is a
    decaying spectrum, which real text embeddings have.)"""
    import numpy as np

    d, k = 16, 4
    base = []
    for i in range(80):
        z = [math.sin(0.31 * i), math.cos(0.53 * i + 0.2),
             math.sin(0.11 * i + 1.1), math.cos(0.71 * i + 2.0)]
        basis = [[1.0 if j == b else (0.05 * math.sin(j + b)) for j in range(d)]
                 for b in range(k)]
        v = [sum(z[b] * basis[b][j] for b in range(k))
             + 0.02 * math.sin(3.1 * i + 0.7 * j) for j in range(d)]
        base.append([float(x) for x in v])
    rows = [(i, v) for i, v in enumerate(base)]
    # planted near-dup partners of the first 10 rows
    rows += [(1000 + i, [x + 0.005 * math.cos(i + j)
                         for j, x in enumerate(base[i])])
             for i in range(10)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    m = sim.pca_fit(df, "embedding", k)
    assert sum(m.explained[:k]) > 0  # spectrum captured
    proj = sim.pca_project(df, "embedding", m)
    got = sim.brute_force_topk(proj, proj.where(F.col("vec_id") >= 1000),
                               "vec_id", "embedding", k=1)
    top1 = {r["query_id"]: r["neighbor_id"] for r in got.collect()}
    hits = sum(1 for i in range(10) if top1[1000 + i] == i)
    assert hits >= 9  # planted partner is the top-1 neighbor post-projection


def test_semantic_dedup_projected_with_full_d_verification(spark):
    """The projected-space composition: pair in PCA space at a loosened
    candidate threshold, verify with full-dimension cosine.  A decoy
    pair identical IN THE PROJECTED SUBSPACE but far apart in full d is
    merged without verification (the measured over-drop) and survives
    with it; the genuine near-dup pair is dropped either way."""
    d = 8
    rows = []
    for i in range(60):
        v = [3.0 * math.sin(0.4 * i), 2.0 * math.cos(0.6 * i)] + \
            [0.01 * math.sin(i + j) for j in range(d - 2)]
        rows.append((i, [float(x) for x in v]))
    # decoy: same dims 0-1, opposite dim 2 -> full-d cos ~ 0.38
    rows.append((500, [2.0, 1.0, 1.5] + [0.0] * (d - 3)))
    rows.append((501, [2.0, 1.0, -1.5] + [0.0] * (d - 3)))
    # genuine near-dup pair
    rows.append((600, [3.0, 2.0] + [0.0] * (d - 2)))
    rows.append((601, [3.003, 2.002] + [0.001] * (d - 2)))
    df = spark.createDataFrame(rows, "vec_id long, vec array<double>")
    m = sim.pca_fit(df, "vec", 2)
    proj = sim.pca_project(df, "vec", m)
    one = F.lit(0)
    cents = sim.group_centroids_quantized(
        proj.withColumn("g", one), "g", "vec")

    def kept(out):
        r = {x["vec_id"]: x["keep"] for x in out.collect()}
        return r

    plain = kept(sim.semantic_dedup(proj, "vec_id", "vec", cents, "g",
                                    threshold=0.9))
    assert not (plain[500] and plain[501])      # false merge, unverified
    assert not (plain[600] and plain[601])      # true pair merged

    ver = kept(sim.semantic_dedup(proj, "vec_id", "vec", cents, "g",
                                  threshold=0.9,
                                  verify_vectors=df,
                                  candidate_threshold=0.8))
    assert ver[500] and ver[501]                # decoy survives full-d check
    assert not (ver[600] and ver[601])          # true pair still merged


def test_pca_artifact_round_trip(spark, tmp_path):
    import numpy as np

    rows = _planted_vectors(n=40)
    df = spark.createDataFrame([(i, v) for i, v in enumerate(rows)],
                               "id long, vec array<double>")
    m = sim.pca_fit(df, "vec", 3)
    path = str(tmp_path / "pca")
    sim.save_pca(m, spark, path)
    back = sim.load_pca(spark, path)
    assert np.array_equal(back.components, m.components)
    assert np.array_equal(back.mean, m.mean)
    assert np.array_equal(back.explained, m.explained)
    assert (back.n, back.center, back.grid) == (m.n, m.center, m.grid)
    p0 = {r["id"]: r["vec"] for r in sim.pca_project(df, "vec", m).collect()}
    p1 = {r["id"]: r["vec"] for r in
          sim.pca_project(df, "vec", back).collect()}
    assert p0 == p1


def test_sql_text_helpers_match_column_forms(spark):
    """r12: the SQL-text fast paths of dot/l2_norm_sq/int_dot/
    quantize_int8/quantize_grid must produce the same values as the
    Column-lambda forms (same parsed lambda tree)."""
    from pyspark.sql import functions as F

    from tradingview_data_pipeline_spark.operators import similarity as sim

    rows = [(1, [0.5, -1.25, 3.0], [2.0, 0.25, -0.5]),
            (2, [0.0, 0.0, 0.0], [1.0, 1.0, 1.0]),
            (3, [1e-7, -1e30, 2.5], [-1e-7, 1e30, 0.125])]
    df = spark.createDataFrame(
        rows, "id long, a array<double>, b array<double>")
    got = df.select(
        sim.dot("a", "b").alias("d_t"),
        sim.dot(F.col("a"), F.col("b")).alias("d_c"),
        sim.l2_norm_sq("a").alias("n_t"),
        sim.l2_norm_sq(F.col("a")).alias("n_c"),
        sim.quantize_int8("a").alias("q8_t"),
        sim.quantize_int8(F.col("a")).alias("q8_c"),
        sim.quantize_grid("a").alias("qg_t"),
        sim.quantize_grid(F.col("a")).alias("qg_c"),
    ).collect()
    for r in got:
        assert r["d_t"] == r["d_c"]
        assert r["n_t"] == r["n_c"]
        assert list(r["q8_t"]) == list(r["q8_c"])
        assert list(r["qg_t"]) == list(r["qg_c"])
    qdf = df.select(sim.quantize_int8("a").alias("qa"),
                    sim.quantize_int8("b").alias("qb"))
    for r in qdf.select(sim.int_dot("qa", "qb").alias("t"),
                        sim.int_dot(F.col("qa"), F.col("qb")).alias("c")
                        ).collect():
        assert r["t"] == r["c"]
