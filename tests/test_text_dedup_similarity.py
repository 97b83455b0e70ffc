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


def test_incremental_neardup_index(spark, tmp_path):
    base = "the quick brown fox jumps over the lazy dog and runs far away today"
    other = "completely different content about spark window aggregation internals"
    path = str(tmp_path / "ix")
    idx = dd.IncrementalNearDupIndex(spark, path, buckets=4)

    p1 = {(r["doc_a"], r["doc_b"]) for r in idx.add_and_find(
        spark.createDataFrame([(1, base), (2, other)],
                              "doc_id long, text string")).collect()}
    assert p1 == set()                        # unrelated docs: no pairs

    # batch 2: exact copies of both -> cross pairs against the INDEX,
    # and the old×old pair (1,2) must never be (re)reported
    p2 = {(r["doc_a"], r["doc_b"]) for r in idx.add_and_find(
        spark.createDataFrame([(3, base), (4, other)],
                              "doc_id long, text string")).collect()}
    assert {(1, 3), (2, 4)} <= p2
    assert (1, 2) not in p2

    # persistence: a fresh handle on the same path knows docs 1-4;
    # incremental cost excludes the (1,3) pair already reported
    idx2 = dd.IncrementalNearDupIndex(spark, path, buckets=4)
    p3 = {(r["doc_a"], r["doc_b"]) for r in idx2.add_and_find(
        spark.createDataFrame([(5, base)],
                              "doc_id long, text string")).collect()}
    assert {(1, 5), (3, 5)} <= p3
    assert (1, 3) not in p3 and (2, 4) not in p3

    # re-adding a doc refreshes its signature instead of duplicating it
    assert idx2.table.read().count() == 5
    idx2.add_and_find(spark.createDataFrame(
        [(5, other)], "doc_id long, text string"))
    assert idx2.table.read().count() == 5


def test_incremental_simhash_index(spark, tmp_path):
    base = "the quick brown fox jumps over the lazy dog and runs far away today"
    other = "completely different content about spark window aggregation internals"
    path = str(tmp_path / "shx")
    idx = dd.IncrementalSimHashIndex(spark, path, buckets=4)

    p1 = {(r["doc_a"], r["doc_b"]) for r in idx.add_and_find(
        spark.createDataFrame([(1, base), (2, other)],
                              "doc_id long, text string")).collect()}
    assert p1 == set()

    # exact copies arrive later: hamming-0 pairs against the INDEX;
    # the old x old pair is never re-reported
    p2 = {(r["doc_a"], r["doc_b"]): r["hamming"] for r in idx.add_and_find(
        spark.createDataFrame([(3, base), (4, other)],
                              "doc_id long, text string")).collect()}
    assert p2.get((1, 3)) == 0 and p2.get((2, 4)) == 0
    assert (1, 2) not in p2

    # persistence across handles; previously-reported pairs excluded
    idx2 = dd.IncrementalSimHashIndex(spark, path, buckets=4)
    p3 = {(r["doc_a"], r["doc_b"]) for r in idx2.add_and_find(
        spark.createDataFrame([(5, base)],
                              "doc_id long, text string")).collect()}
    assert {(1, 5), (3, 5)} <= p3 and (1, 3) not in p3
    assert idx2.table.read().count() == 5


def test_incremental_index_stored_side_unshuffled(spark, tmp_path,
                                                  monkeypatch):
    """The O(batch) plan contract (round-8 fix): ``add_and_find`` must
    never shuffle the stored signature table — its parquet scan streams
    under broadcast joins (anti-join on batch ids, semi-prune to
    touched buckets). Audited from the ACTUAL code path by intercepting
    the eager checkpoints ``_batch_vs_stored_pairs`` pins: the only
    captured plan that reads parquet is the stored-side survivor frame,
    and it must be all-broadcast, shuffle-free."""
    # patch the CONCRETE class (pyspark.sql.DataFrame is an ABC in 4.x)
    from pyspark.sql.classic.dataframe import DataFrame

    base = "the quick brown fox jumps over the lazy dog and runs far away today"
    idx = dd.IncrementalNearDupIndex(spark, str(tmp_path / "pix"), buckets=4)
    idx.add_and_find(spark.createDataFrame(
        [(i, f"{base} tail {i}") for i in range(8)],
        "doc_id long, text string"))

    plans = []
    real = DataFrame.localCheckpoint

    def capturing(self, eager=True, **kwargs):
        plans.append(self._jdf.queryExecution().executedPlan().toString())
        return real(self, eager=eager, **kwargs)

    monkeypatch.setattr(DataFrame, "localCheckpoint", capturing)
    got = {(r["doc_a"], r["doc_b"]) for r in idx.add_and_find(
        spark.createDataFrame([(100, base + " tail 0")],
                              "doc_id long, text string")).collect()}
    monkeypatch.undo()
    assert (0, 100) in got                    # behavior unchanged

    def scan_ancestors(plan: str) -> list[str]:
        """Operators ABOVE each parquet scan in the printed tree (the
        path the scanned rows flow through), by indentation walk."""
        lines = plan.splitlines()

        def indent(ln):
            body = ln.lstrip(" :+-*(0123456789)")
            return len(ln) - len(body)

        out = []
        for i, ln in enumerate(lines):
            if "parquet" not in ln:
                continue
            cur = indent(ln)
            for j in range(i - 1, -1, -1):
                ij = indent(lines[j])
                if ij < cur:
                    out.append(lines[j].strip(" :+-"))
                    cur = ij
        return out

    stored_plans = [p for p in plans if "parquet" in p]
    assert stored_plans                       # the stored side WAS read
    for p in stored_plans:
        anc = scan_ancestors(p)
        assert anc and any("BroadcastHashJoin" in a for a in anc)
        # no shuffle/sort between the stored scan and its joins: the
        # only Exchange allowed anywhere on the scan's path is the
        # broadcast of the (tiny) batch side, which sits on the BUILD
        # side, never above the scan
        for a in anc:
            assert "Exchange" not in a, a
            assert "SortMergeJoin" not in a and "Sort " not in a, a


def test_incremental_neardup_banded_store_mode(spark, tmp_path):
    """banded_store=True must behave exactly like the scan mode across
    batches (same pair sets), honor the re-add refresh contract, and
    persist across handles — while reading only touched bucket
    directories per trigger (BandedBucketStore)."""
    import random
    rng = random.Random(11)
    vocab = [f"w{i}" for i in range(40)]

    def text(i):
        rng2 = random.Random(i % 17)           # collision-rich corpus
        return " ".join(rng2.choices(vocab, k=20))

    batches = [[(j, text(j)) for j in range(b * 7, b * 7 + 7)]
               for b in range(4)]

    scan = dd.IncrementalNearDupIndex(spark, str(tmp_path / "scan"),
                                      buckets=4)
    band = dd.IncrementalNearDupIndex(spark, str(tmp_path / "band"),
                                      buckets=4, banded_store=True)
    for rows in batches:
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got_s = {(r["doc_a"], r["doc_b"])
                 for r in scan.add_and_find(df).collect()}
        df2 = spark.createDataFrame(rows, "doc_id long, text string")
        got_b = {(r["doc_a"], r["doc_b"])
                 for r in band.add_and_find(df2).collect()}
        assert got_b == got_s

    # re-add doc 0 with DIFFERENT text: both modes refresh the
    # signature (row count stable) and report the same new pairs
    redo = [(0, text(3))]
    got_s = {(r["doc_a"], r["doc_b"]) for r in scan.add_and_find(
        spark.createDataFrame(redo, "doc_id long, text string")).collect()}
    got_b = {(r["doc_a"], r["doc_b"]) for r in band.add_and_find(
        spark.createDataFrame(redo, "doc_id long, text string")).collect()}
    assert got_b == got_s
    assert band.table.read().count() == scan.table.read().count() == 28

    # persistence: a fresh banded handle continues identically
    scan2 = dd.IncrementalNearDupIndex(spark, str(tmp_path / "scan"),
                                       buckets=4)
    band2 = dd.IncrementalNearDupIndex(spark, str(tmp_path / "band"),
                                       buckets=4, banded_store=True)
    more = [(100, text(5))]
    got_s = {(r["doc_a"], r["doc_b"]) for r in scan2.add_and_find(
        spark.createDataFrame(more, "doc_id long, text string")).collect()}
    got_b = {(r["doc_a"], r["doc_b"]) for r in band2.add_and_find(
        spark.createDataFrame(more, "doc_id long, text string")).collect()}
    assert got_b == got_s and got_b


def test_incremental_banded_store_migration(spark, tmp_path):
    """Enabling banded_store on an index that already has signatures:
    rebuild_store derives the membership store from the signature
    table, after which pairs match a store maintained incrementally
    from the start."""
    base = "the quick brown fox jumps over the lazy dog and runs far away today"
    path = str(tmp_path / "mig")
    plain = dd.IncrementalNearDupIndex(spark, path, buckets=4)
    plain.add_and_find(spark.createDataFrame(
        [(i, f"{base} tail {i}") for i in range(6)],
        "doc_id long, text string"))

    up = dd.IncrementalNearDupIndex(spark, path, buckets=4,
                                    banded_store=True)
    up.rebuild_store()
    got = {(r["doc_a"], r["doc_b"]) for r in up.add_and_find(
        spark.createDataFrame([(100, base + " tail 0")],
                              "doc_id long, text string")).collect()}
    assert (0, 100) in got                       # stored side consulted


def test_incremental_simhash_banded_store_mode(spark, tmp_path):
    """SimHash banded_store: same (pair, hamming) sets as the scan
    mode across batches — the signature rides the store's payload
    slot so the radius filter runs on the pair set only."""
    base = "the quick brown fox jumps over the lazy dog and runs far away today"
    texts = [base, "completely different content about spark window "
                   "aggregation internals", base + " small twist",
             "yet another unrelated piece of writing entirely"]
    batches = [[(1, texts[0]), (2, texts[1])],
               [(3, texts[0]), (4, texts[2])],
               [(5, texts[3]), (6, texts[2])]]
    scan = dd.IncrementalSimHashIndex(spark, str(tmp_path / "s"), buckets=4)
    band = dd.IncrementalSimHashIndex(spark, str(tmp_path / "b"),
                                      buckets=4, banded_store=True)
    for rows in batches:
        got_s = {(r["doc_a"], r["doc_b"], r["hamming"])
                 for r in scan.add_and_find(spark.createDataFrame(
                     rows, "doc_id long, text string")).collect()}
        got_b = {(r["doc_a"], r["doc_b"], r["hamming"])
                 for r in band.add_and_find(spark.createDataFrame(
                     rows, "doc_id long, text string")).collect()}
        assert got_b == got_s
    assert band.table.read().count() == 6


def test_incremental_embedding_banded_store_mode(spark, tmp_path):
    """Embedding banded_store: same candidate pair sets as the scan
    mode across batches, including the planted near-identical
    vectors."""
    import random

    import tradingview_data_pipeline_spark.operators.similarity as sim

    def vec(seed):
        r = random.Random(seed)
        return [r.uniform(-1, 1) for _ in range(8)]

    rows_of = lambda ids_seeds: [(i, vec(s)) for i, s in ids_seeds]
    batches = [rows_of([(1, 10), (2, 20)]),
               rows_of([(3, 10), (4, 30)]),       # 3 ~ 1
               rows_of([(5, 20), (6, 40)])]       # 5 ~ 2
    mk = lambda p, **kw: sim.IncrementalEmbeddingIndex(
        spark, p, bits=24, bands=4, dim=8, **kw)
    scan, band = mk(str(tmp_path / "es")), mk(str(tmp_path / "eb"),
                                              banded_store=True)
    for rows in batches:
        df1 = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        df2 = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        got_s = {(r["id_a"], r["id_b"])
                 for r in scan.add_and_find(df1).collect()}
        got_b = {(r["id_a"], r["id_b"])
                 for r in band.add_and_find(df2).collect()}
        assert got_b == got_s
    # identical vectors share every band key: the cross-batch pair is
    # guaranteed, proving the stored side was actually consulted
    assert (2, 5) in got_b


def test_banded_store_cap_nulls_existing_membership(spark, tmp_path):
    """Regression (r8 review): when a bucket CROSSES max_bucket its
    membership array must actually be nulled in the persisted row —
    merge_upsert's NULL-coalesce silently kept the stale array (so the
    bucket could later re-admit with members missing); the store now
    replaces matched rows verbatim, and the cap is sticky."""
    base = "the quick brown fox jumps over the lazy dog runs far away today"
    idx = dd.IncrementalNearDupIndex(spark, str(tmp_path / "cap"),
                                     buckets=4, banded_store=True,
                                     max_bucket=2)
    idx.add_and_find(spark.createDataFrame(
        [(1, base), (2, base)], "doc_id long, text string"))
    rows = {r["bk"]: r for r in idx.store.table.read().collect()}
    assert all(r["docs"] is not None and r["n"] == 2
               for r in rows.values())

    # third identical doc: pop 3 > 2 -> every bucket caps; the
    # persisted rows must carry docs=NULL, not the stale 2-arrays
    idx.add_and_find(spark.createDataFrame(
        [(3, base)], "doc_id long, text string"))
    rows = {r["bk"]: r for r in idx.store.table.read().collect()}
    assert all(r["docs"] is None and r["n"] == 3 for r in rows.values())

    # sticky: a fourth doc pairs with nothing through capped buckets
    got = {(r["doc_a"], r["doc_b"]) for r in idx.add_and_find(
        spark.createDataFrame([(4, base)],
                              "doc_id long, text string")).collect()}
    assert got == set()
    rows = {r["bk"]: r for r in idx.store.table.read().collect()}
    assert all(r["docs"] is None and r["n"] == 4 for r in rows.values())


def test_incremental_neardup_banded_store_crash_replay(spark, tmp_path,
                                                       monkeypatch):
    """The store commits BEFORE the signature table; a crash in that
    window leaves the store one batch ahead. A replay of the same
    batch must produce the same pairs as a no-crash run and converge
    both tables (set-merge update is idempotent; the store's batch
    entries cannot self-pair)."""
    import pytest

    from tradingview_data_pipeline_spark.operators.merge import ParquetTable

    base = "the quick brown fox jumps over the lazy dog runs far away today"
    batch1 = [(1, base), (2, "entirely different content about spark "
                             "window aggregation internals right here")]
    batch2 = [(3, base), (4, base + " with a small twist at the end")]

    ref = dd.IncrementalNearDupIndex(spark, str(tmp_path / "ref"),
                                     buckets=4, banded_store=True)
    ref.add_and_find(spark.createDataFrame(batch1,
                                           "doc_id long, text string"))
    want_pairs = {(r["doc_a"], r["doc_b"]) for r in ref.add_and_find(
        spark.createDataFrame(batch2, "doc_id long, text string")).collect()}
    want_sigs = {tuple(r) for r in ref.table.read().collect()}

    idx = dd.IncrementalNearDupIndex(spark, str(tmp_path / "crash"),
                                     buckets=4, banded_store=True)
    idx.add_and_find(spark.createDataFrame(batch1,
                                           "doc_id long, text string"))

    real = ParquetTable.merge_upsert
    calls = {"n": 0}

    def crashing(self, df, **kw):
        calls["n"] += 1
        # the store commits first via merge_with; the FIRST
        # merge_upsert of the batch is the signature commit — dying
        # here leaves the store one batch ahead
        if calls["n"] == 1:
            raise OSError("simulated crash between store and signatures")
        return real(self, df, **kw)

    monkeypatch.setattr(ParquetTable, "merge_upsert", crashing)
    with pytest.raises(OSError, match="simulated crash"):
        idx.add_and_find(spark.createDataFrame(
            batch2, "doc_id long, text string"))
    monkeypatch.undo()

    got = {(r["doc_a"], r["doc_b"]) for r in idx.add_and_find(
        spark.createDataFrame(batch2, "doc_id long, text string")).collect()}
    assert got == want_pairs
    assert {tuple(r) for r in idx.table.read().collect()} == want_sigs


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


def _parquet_files(path):
    import os
    return [os.path.join(root, n) for root, _, names in os.walk(path)
            for n in names if n.endswith(".parquet")]


def test_incremental_index_compaction(spark, tmp_path):
    """compact() bounds the signature table's file count without
    changing any result: post-compact reads and add_and_find pairs are
    identical, and the rewrite is crash-safe (manifest commit)."""
    import os

    base = "the quick brown fox jumps over the lazy dog and runs far away today"
    path = str(tmp_path / "cix")
    idx = dd.IncrementalNearDupIndex(spark, path, buckets=4)
    for i in range(6):
        idx.add_and_find(spark.createDataFrame(
            [(i, f"{base} variant {i} unique tail {i}")],
            "doc_id long, text string"))
    # force the many-small-files state a batch-cadence table accumulates
    # (at test scale AQE coalesces every write to one file per bucket,
    # so build the fragmentation explicitly through the public API)
    idx.table.overwrite(idx.table.read().repartition(6))
    before_rows = {tuple(r) for r in idx.table.read().collect()}
    n_before = len(_parquet_files(path))
    assert n_before > 4                       # genuinely fragmented

    idx.compact()
    assert {tuple(r) for r in idx.table.read().collect()} == before_rows
    n_after = len(_parquet_files(path))
    assert n_after < n_before
    assert n_after <= 4                       # <= one file per live bucket

    # the index keeps working identically after compaction
    pairs = {(r["doc_a"], r["doc_b"]) for r in idx.add_and_find(
        spark.createDataFrame([(100, base + " variant 0 unique tail 0")],
                              "doc_id long, text string")).collect()}
    assert (0, 100) in pairs


def test_compaction_crash_leaves_consistent_snapshot(spark, tmp_path,
                                                     monkeypatch):
    import json
    import os

    base = "the quick brown fox jumps over the lazy dog and runs far away today"
    path = str(tmp_path / "crx")
    idx = dd.IncrementalSimHashIndex(spark, path, buckets=4)
    for i in range(4):
        idx.add_and_find(spark.createDataFrame(
            [(i, f"{base} tail {i}")], "doc_id long, text string"))
    before_rows = {tuple(r) for r in idx.table.read().collect()}
    manifest_before = json.load(open(os.path.join(path, "_manifest.json")))

    real = os.rename
    calls = {"n": 0}

    def crashing(src, dst):
        if "__bucket=" in str(src):
            calls["n"] += 1
            if calls["n"] == 2:
                raise OSError("simulated crash in compaction publish")
        return real(src, dst)

    monkeypatch.setattr(os, "rename", crashing)
    import pytest as _pt
    with _pt.raises(OSError, match="simulated crash"):
        idx.compact()
    monkeypatch.undo()

    # crash before the commit: exact old snapshot, manifest untouched
    assert json.load(open(os.path.join(path, "_manifest.json"))) \
        == manifest_before
    assert {tuple(r) for r in idx.table.read().collect()} == before_rows

    idx.compact()                              # re-run converges + GCs
    assert {tuple(r) for r in idx.table.read().collect()} == before_rows
    live = set(json.load(open(os.path.join(path, "_manifest.json")))
               ["buckets"].values())
    orphans = [n for n in os.listdir(path)
               if os.path.isdir(os.path.join(path, n)) and n not in live]
    assert orphans == []


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


def test_incremental_embedding_index(spark, tmp_path):
    import numpy as np
    path = str(tmp_path / "eix")
    idx = sim.IncrementalEmbeddingIndex(spark, path, bits=24, bands=4, dim=8,
                                        buckets=4)
    m = _unit_vectors(8, dim=8)

    def batch(ids_rows):
        return spark.createDataFrame(
            [(i, [float(x) for x in row]) for i, row in ids_rows],
            "vec_id bigint, embedding array<float>")

    # batch 1: unrelated vectors -> no candidate pairs expected at this
    # bit width for 8-dim randoms
    p1 = {(r.id_a, r.id_b) for r in
          idx.add_and_find(batch([(i, m[i]) for i in range(4)])).collect()}

    # batch 2: vector 10 is an exact copy of stored vector 2 -> the
    # cross-batch pair must appear; old×old pairs never (re)appear
    p2 = {(r.id_a, r.id_b) for r in
          idx.add_and_find(batch([(10, m[2]), (11, m[5])])).collect()}
    assert (2, 10) in p2
    assert not (p1 & p2)

    # verification stays with the caller: exact cosine on the union frame
    allv = batch([(i, m[i]) for i in range(4)] + [(10, m[2]), (11, m[5])])
    good = sim.cosine_verify_pairs(
        spark.createDataFrame(sorted(p2), "id_a long, id_b long"),
        allv, "vec_id", "embedding", threshold=0.99).collect()
    assert [(r.id_a, r.id_b) for r in good] == [(2, 10)]

    # persistence + idempotence: fresh handle, re-adding vec 10 reports
    # its pair again (signature refresh), never an old×old pair
    idx2 = sim.IncrementalEmbeddingIndex(spark, path, bits=24, bands=4,
                                         dim=8, buckets=4)
    p3 = {(r.id_a, r.id_b) for r in
          idx2.add_and_find(batch([(10, m[2])])).collect()}
    assert (2, 10) in p3 and all(10 in pr for pr in p3)

    # compaction: results identical afterwards, file count bounded
    import os
    def live_files():
        return sum(len([f for f in files if f.endswith(".parquet")])
                   for _, _, files in os.walk(path))
    before = live_files()
    idx2.compact()
    assert live_files() <= before
    p4 = {(r.id_a, r.id_b) for r in
          idx2.add_and_find(batch([(12, m[2])])).collect()}
    assert (2, 12) in p4 and (10, 12) in p4


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


def test_incremental_embedding_index_duplicate_id_in_batch(spark, tmp_path):
    # a duplicated vec_id within one batch must not interleave band
    # structs into a corrupted signature (review finding, round 6)
    m = _unit_vectors(3, dim=8)
    path = str(tmp_path / "eix_dup")
    idx = sim.IncrementalEmbeddingIndex(spark, path, bits=24, bands=4, dim=8)

    def batch(rows):
        return spark.createDataFrame(
            [(i, [float(x) for x in m[j]]) for i, j in rows],
            "vec_id bigint, embedding array<float>")

    idx.add_and_find(batch([(0, 0), (0, 0), (1, 1)]))   # 0 duplicated
    stored = {r.vec_id: [r[f"p{j}"] for j in range(4)]
              for r in idx.table.read().collect()}
    clean = sim.IncrementalEmbeddingIndex(spark, str(tmp_path / "eix_c"),
                                          bits=24, bands=4, dim=8)
    clean.add_and_find(batch([(0, 0), (1, 1)]))
    expect = {r.vec_id: [r[f"p{j}"] for j in range(4)]
              for r in clean.table.read().collect()}
    assert stored == expect


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


def test_incremental_pca_equals_batch_fit(spark, tmp_path):
    """Three batches folded into the store derive a model bit-identical
    to pca_fit over the concatenation; replay is a no-op; the store
    persists across handles; dimension mismatch fails loudly."""
    import numpy as np

    rows = _planted_vectors(n=90)
    df = spark.createDataFrame([(i, v) for i, v in enumerate(rows)],
                               "id long, vec array<double>")
    parts = [df.where(F.col("id") % 3 == k) for k in range(3)]
    ipca = sim.IncrementalPca(spark, str(tmp_path / "pca_state"))
    for k, p in enumerate(parts):
        assert ipca.add_batch(p, "vec", f"b{k}") is True
    m_inc = ipca.model(3)
    m_fit = sim.pca_fit(df, "vec", 3)
    assert np.array_equal(m_inc.components, m_fit.components)
    assert np.array_equal(m_inc.mean, m_fit.mean)
    assert np.array_equal(m_inc.explained, m_fit.explained)
    assert m_inc.n == m_fit.n == 90
    # uncentered derivation from the same store
    m0 = ipca.model(2, center=False)
    f0 = sim.pca_fit(df, "vec", 2, center=False)
    assert np.array_equal(m0.components, f0.components)

    # replay: same batch_id changes nothing
    assert ipca.add_batch(parts[0], "vec", "b0") is False
    assert np.array_equal(ipca.model(3).components, m_fit.components)

    # persistence: a fresh handle sees the same state
    again = sim.IncrementalPca(spark, str(tmp_path / "pca_state"))
    assert again.applied_batches() == {"b0", "b1", "b2"}
    assert np.array_equal(again.model(3).components, m_fit.components)

    # dimension mismatch fails loudly
    bad = spark.createDataFrame([(1, [1.0, 2.0])],
                                "id long, vec array<double>")
    with pytest.raises(ValueError, match="dimension mismatch"):
        again.add_batch(bad, "vec", "b9")
    # grid mismatch fails loudly
    other = sim.IncrementalPca(spark, str(tmp_path / "pca_state"),
                               grid=100)
    with pytest.raises(ValueError, match="grid mismatch"):
        other.add_batch(parts[0], "vec", "b9")
    with pytest.raises(ValueError, match="no batches"):
        sim.IncrementalPca(spark, str(tmp_path / "empty")).model(2)


# ---------------------------------------------------------------------------
# containment_pairs — asymmetric n-gram containment
# ---------------------------------------------------------------------------

def _words(prefix, n):
    return " ".join(f"{prefix}{i}" for i in range(n))


def test_containment_asymmetric_subset(spark):
    # doc 1 (12 words) is quoted wholesale inside doc 2 (62 words):
    # containment(1 -> 2) = 1.0 but the reverse is ~0.17 — the asymmetry
    # the operator exists for. doc 4 shares doc 2's pre/post filler
    # (keeping those grams in-universe at df = 2, so doc 2's denominator
    # is NOT just the quote); doc 3 is unrelated.
    quote = _words("q", 12)
    pre, post = _words("pre", 25), _words("post", 25)
    df = spark.createDataFrame(
        [(1, quote),
         (2, pre + " " + quote + " " + post),
         (3, _words("z", 40)),
         (4, pre + " " + post)],
        "doc_id bigint, text string")
    out = {(r["doc_id"], r["partner_doc_id"]): r
           for r in dd.containment_pairs(
               df, "doc_id", "text", n=4, threshold=0.9).collect()}
    # (1,2): the quote; (4,2): doc 4's whole in-universe gram set (its
    # 44 pure pre/post grams; its 3 pre->post junction grams are df=1)
    # is inside doc 2
    assert set(out) == {(1, 2), (4, 2)}
    r = out[(1, 2)]
    # 12-word quote -> 9 4-grams, all shared, all in-universe (df = 2)
    assert r["n_grams"] == 9 and r["shared"] == 9
    assert r["containment"] == 1.0
    assert out[(4, 2)]["n_grams"] == 44
    # reverse direction: doc 2's in-universe grams = 9 quote + 44
    # filler = 53; only 9 land in doc 1 -> 0.17, far below threshold
    both = {(r["doc_id"], r["partner_doc_id"]): r
            for r in dd.containment_pairs(
                df, "doc_id", "text", n=4, threshold=0.1).collect()}
    assert both[(2, 1)]["n_grams"] == 53
    assert both[(2, 1)]["containment"] == 9 / 53
    # contrast: symmetric Jaccard of docs 1 and 2 over distinct 4-gram
    # sets is 9 / 59 — far below any dedup threshold
    assert 9 / 59 < 0.2


def test_containment_df_cap_excludes_boilerplate(spark):
    # a gram shared by MORE than max_gram_docs docs is excluded from
    # numerator and denominator; docs left with zero in-universe grams
    # emit nothing
    boiler = _words("b", 4)
    df = spark.createDataFrame(
        [(i, boiler) for i in range(4)], "doc_id bigint, text string")
    out = dd.containment_pairs(df, "doc_id", "text", n=4,
                               threshold=0.1, max_gram_docs=3).collect()
    assert out == []
    # raise the cap to 4: every pair is now fully contained
    out2 = dd.containment_pairs(df, "doc_id", "text", n=4,
                                threshold=0.99, max_gram_docs=4).collect()
    assert len(out2) == 12  # 4 docs x 3 partners, directed
    assert all(r["containment"] == 1.0 for r in out2)


def test_containment_validation(spark):
    df = spark.createDataFrame([(1, "a b c d e")], "doc_id bigint, text string")
    with pytest.raises(ValueError, match="threshold"):
        dd.containment_pairs(df, "doc_id", "text", threshold=0.0)
    with pytest.raises(ValueError, match="max_gram_docs"):
        dd.containment_pairs(df, "doc_id", "text", max_gram_docs=1)


def test_incremental_containment_index(spark, tmp_path):
    quote = _words("q", 12)                       # 9 4-grams
    page = _words("pre", 10) + " " + quote + " " + _words("post", 10)
    other = _words("z", 30)
    idx = dd.IncrementalContainmentIndex(
        spark, str(tmp_path / "cix"), n=4, threshold=0.9, buckets=4)

    # batch 1 registers the big page and an unrelated doc: no pairs
    out1 = idx.add_and_find(spark.createDataFrame(
        [(1, page), (2, other)], "doc_id long, text string")).collect()
    assert out1 == []

    # batch 2: the quote arrives -> contained in the STORED page
    out2 = {(r["doc_id"], r["partner_doc_id"]): r
            for r in idx.add_and_find(spark.createDataFrame(
                [(3, quote)], "doc_id long, text string")).collect()}
    assert set(out2) == {(3, 1)}
    r = out2[(3, 1)]
    assert r["shared"] == 9 and r["n_grams"] == 9
    assert r["containment"] == 1.0
    # the reverse direction (page in quote) is 9/29 — below threshold

    # persistence + new×new: a fresh handle, one batch carrying BOTH a
    # new page quoting doc 3's text and another copy of the quote
    idx2 = dd.IncrementalContainmentIndex(
        spark, str(tmp_path / "cix"), n=4, threshold=0.9, buckets=4)
    out3 = {(r["doc_id"], r["partner_doc_id"])
            for r in idx2.add_and_find(spark.createDataFrame(
                [(4, _words("mid", 10) + " " + quote),
                 (5, quote)], "doc_id long, text string")).collect()}
    # quote-copies 3 and 5 are contained in stored page 1, new page 4,
    # and each other; already-reported (3,1) must NOT reappear
    assert (5, 1) in out3 and (5, 4) in out3 and (3, 4) in out3
    assert (5, 3) in out3 and (3, 5) in out3
    assert (3, 1) not in out3

    # re-add refreshes the stored row instead of duplicating it
    assert idx2.table.read().count() == 5
    idx2.add_and_find(spark.createDataFrame(
        [(5, other)], "doc_id long, text string"))
    assert idx2.table.read().count() == 5


def test_incremental_containment_hot_gram_cap(spark, tmp_path):
    # a gram held by more docs than max_gram_docs stops pairing: with
    # cap=2 a third copy of the same text meets a full bucket and
    # reports nothing (lower-bound contract), while cap=None reports
    boiler = _words("b", 4)
    for cap, expect_pairs in ((2, False), (None, True)):
        idx = dd.IncrementalContainmentIndex(
            spark, str(tmp_path / f"cap{cap}"), n=4, threshold=0.5,
            max_gram_docs=cap, buckets=2)
        idx.add_and_find(spark.createDataFrame(
            [(1, boiler), (2, boiler)], "doc_id long, text string"))
        out = idx.add_and_find(spark.createDataFrame(
            [(3, boiler)], "doc_id long, text string")).collect()
        assert bool(out) is expect_pairs


def test_incremental_containment_short_doc_readd_refreshes(spark, tmp_path):
    # a doc re-added with sub-n-word text must refresh to an EMPTY gram
    # set (stale grams would keep pairing it forever)
    quote = _words("q", 12)
    idx = dd.IncrementalContainmentIndex(
        spark, str(tmp_path / "cix_sh"), n=4, threshold=0.9, buckets=2)
    idx.add_and_find(spark.createDataFrame(
        [(1, quote)], "doc_id long, text string"))
    # re-add doc 1 with a 2-word text: row refreshed, grams emptied
    idx.add_and_find(spark.createDataFrame(
        [(1, "tiny text")], "doc_id long, text string"))
    row = idx.table.read().collect()
    assert len(row) == 1 and row[0]["n_grams"] == 0
    # a fresh copy of the quote now finds NO stored partner
    out = idx.add_and_find(spark.createDataFrame(
        [(2, quote)], "doc_id long, text string")).collect()
    assert out == []


def test_incremental_containment_readd_uses_fresh_denominator(spark, tmp_path):
    # re-added doc: its denominator must come from the refreshed row
    # ONLY — the pre-fix read emitted a second stale-sized containment
    # row for the same pair (review catch, round 9)
    quote = _words("q", 12)                       # 9 4-grams
    longer = quote + " " + _words("extra", 8)     # 17 4-grams
    idx = dd.IncrementalContainmentIndex(
        spark, str(tmp_path / "cix_rd"), n=4, threshold=0.4, buckets=2)
    idx.add_and_find(spark.createDataFrame(
        [(1, quote), (9, quote)], "doc_id long, text string"))
    out = idx.add_and_find(spark.createDataFrame(
        [(9, longer)], "doc_id long, text string")).collect()
    rows = [r for r in out if r["doc_id"] == 9 and r["partner_doc_id"] == 1]
    assert len(rows) == 1                          # exactly one, not two
    assert rows[0]["n_grams"] == 17               # fresh denominator
    assert rows[0]["shared"] == 9


def test_incremental_containment_validates_cap(spark, tmp_path):
    import pytest as _pt
    with _pt.raises(ValueError, match="max_gram_docs"):
        dd.IncrementalContainmentIndex(
            spark, str(tmp_path / "cix_bad"), max_gram_docs=1)


def test_incremental_containment_rejects_intra_batch_dup_ids(spark, tmp_path):
    # two rows with one doc_id inside ONE batch would silently union
    # both texts' gram sets (neither text's row, nor the documented
    # re-add refresh) — must raise instead (advisor catch, round 9)
    import pytest as _pt
    idx = dd.IncrementalContainmentIndex(
        spark, str(tmp_path / "cix_dup"), n=4, threshold=0.5, buckets=2)
    batch = spark.createDataFrame(
        [(1, _words("a", 12)), (1, _words("b", 12))],
        "doc_id long, text string")
    with _pt.raises(ValueError, match="appears 2x in one batch"):
        idx.add_and_find(batch)
    assert idx.table.read().count() == 0          # nothing registered


def test_incremental_containment_arrow_probe_equals_scan(spark, tmp_path):
    # probe='arrow' must yield the exact same directed pair set (and the
    # same refreshed store) as probe='scan' — incl. a re-added doc in
    # the batch (exercises the arrow path's own-row exclusion) and a
    # sub-n-word doc (empty gram array in the stored chunks)
    quote = _words("q", 12)
    longer = quote + " " + _words("extra", 8)
    seed = spark.createDataFrame(
        [(1, quote), (2, longer), (3, _words("z", 20)), (4, "tiny")],
        "doc_id long, text string")
    batch = spark.createDataFrame(
        [(3, _words("z", 9)),                      # re-add, new text
         (10, quote),                              # dup of 1/2
         (11, _words("fresh", 15))],
        "doc_id long, text string")

    def run(probe):
        idx = dd.IncrementalContainmentIndex(
            spark, str(tmp_path / f"cix_{probe}"), n=4, threshold=0.4,
            buckets=2, probe=probe)
        idx.add_and_find(seed)
        out = idx.add_and_find(batch)
        pairs = sorted(map(tuple, out.collect()))
        store = sorted((r["doc_id"], tuple(sorted(r["grams"])),
                        r["n_grams"]) for r in idx.table.read().collect())
        return pairs, store

    scan_pairs, scan_store = run("scan")
    arrow_pairs, arrow_store = run("arrow")
    assert arrow_pairs == scan_pairs and len(scan_pairs) > 0
    assert arrow_store == scan_store


def test_incremental_containment_probe_validation_and_auto(spark, tmp_path):
    import pytest as _pt
    with _pt.raises(ValueError, match="probe"):
        dd.IncrementalContainmentIndex(
            spark, str(tmp_path / "cix_p"), probe="bogus")
    # auto mode picks scan below the crossover (row_count 0 here) and
    # still produces correct output
    idx = dd.IncrementalContainmentIndex(
        spark, str(tmp_path / "cix_a"), n=4, threshold=0.5, buckets=2)
    assert idx.probe == "auto"
    out = idx.add_and_find(spark.createDataFrame(
        [(1, _words("a", 10)), (2, _words("a", 10))],
        "doc_id long, text string"))
    assert out.count() == 2                        # both directions


def test_sharded_containment_index(spark, tmp_path):
    """ShardedContainmentIndex (round 11, the past-50M lever as code):
    within-shard pairs found, cross-shard containment deliberately out
    of scope, multi-shard batches route correctly, replay/persistence
    rides the per-shard protocol, NULL shard values fail loudly."""
    quote = _words("q", 12)
    page = _words("pre", 10) + " " + quote + " " + _words("post", 10)
    idx = dd.ShardedContainmentIndex(
        spark, str(tmp_path / "scix"), shard_col="source",
        n=4, threshold=0.9, buckets=4)

    # batch 1 (multi-shard): page registers in shard A, an identical
    # page in shard B — no pairs yet in either shard
    out1 = idx.add_and_find(spark.createDataFrame(
        [("A", 1, page), ("B", 2, page)],
        "source string, doc_id long, text string")).collect()
    assert out1 == []

    # batch 2: the quote lands in shard A -> contained in shard A's
    # stored page ONLY; shard B's identical page is out of scope
    out2 = {(r["source"], r["doc_id"], r["partner_doc_id"])
            for r in idx.add_and_find(spark.createDataFrame(
                [("A", 3, quote)],
                "source string, doc_id long, text string")).collect()}
    assert out2 == {("A", 3, 1)}

    # persistence across a reopened handle + per-shard stores on disk
    idx2 = dd.ShardedContainmentIndex(
        spark, str(tmp_path / "scix"), shard_col="source",
        n=4, threshold=0.9, buckets=4)
    out3 = {(r["source"], r["doc_id"], r["partner_doc_id"])
            for r in idx2.add_and_find(spark.createDataFrame(
                [("B", 4, quote)],
                "source string, doc_id long, text string")).collect()}
    assert out3 == {("B", 4, 2)}
    assert idx2.shard("A").table.read().count() == 2
    assert idx2.shard("B").table.read().count() == 2

    # NULL shard value -> loud routing error
    import pytest as _pytest
    with _pytest.raises(ValueError, match="NULL source"):
        idx2.add_and_find(spark.createDataFrame(
            [(None, 9, quote)],
            "source string, doc_id long, text string"))


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
