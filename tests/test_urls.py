"""URL/domain dedup operators (operators/urls.py) — unit semantics;
q80's oracle verifies the same expressions end-to-end cross-engine."""

from pyspark.sql import functions as F

from tradingview_data_pipeline_spark.operators import urls as ur


def _vals(spark, fn, items):
    df = spark.createDataFrame([(i, u) for i, u in enumerate(items)],
                               "id long, u string")
    rows = df.select("id", fn(F.col("u")).alias("v")).orderBy("id").collect()
    return [r["v"] for r in rows]


def test_url_host_normalization(spark):
    got = _vals(spark, ur.url_host, [
        "https://WWW.Example.COM:443/a/b",      # case, www, port
        "http://user:pw@Sub.Example.com./x",    # userinfo, trailing dot
        "https://example.org",                  # bare host
        "ftp://www.files.example.net:21/",      # non-http scheme still parses
        "not a url",                            # no scheme -> ''
    ])
    assert got == ["example.com", "sub.example.com", "example.org",
                   "files.example.net", ""]


def test_registered_domain_heuristic(spark):
    got = _vals(spark, lambda c: ur.registered_domain(c), [
        "a.b.example.com",      # -> example.com
        "news.example.co.uk",   # co.uk branch -> example.co.uk
        "example.org",          # already eTLD+1
        "localhost",            # single label passes through
        "gov.uk",               # 2 labels, no third -> unchanged
    ])
    assert got == ["example.com", "example.co.uk", "example.org",
                   "localhost", "gov.uk"]


def test_canonical_url_rules(spark):
    got = _vals(spark, ur.canonical_url, [
        # tracking params dropped, rest sorted; index.html dropped;
        # port/www/case normalized; fragment dropped
        "https://WWW.Example.com:8080/a/index.html?z=1&utm_source=x&a=2#frag",
        "http://example.com/a/?a=2&z=1",        # same canonical as above
        "https://example.com/a",                # and again (no query -> differs)
        "https://example.com/",                 # root -> bare host
        "plain text",                           # no scheme -> NULL
    ])
    assert got[0] == "example.com/a?a=2&z=1"
    assert got[1] == got[0]                  # order + scheme insensitive
    assert got[2] == "example.com/a"
    assert got[3] == "example.com"
    assert got[4] is None


def test_url_dedup_groups_and_keepers(spark):
    df = spark.createDataFrame([
        (1, "https://www.example.com/a?utm_source=x"),
        (2, "http://example.com/a"),
        (3, "https://example.com/b"),
        (4, "garbage"),
        (5, "also garbage"),
    ], "doc_id long, url string")
    out = {r["doc_id"]: r for r in
           ur.url_dedup(df, "doc_id", "url").collect()}
    assert out[1]["url_group"] == out[2]["url_group"] == 1
    assert out[1]["url_is_keeper"] and not out[2]["url_is_keeper"]
    assert out[3]["url_group"] == 3 and out[3]["url_is_keeper"]
    # non-URLs are their own singleton groups, always kept
    assert out[4]["url_group"] == 4 and out[4]["url_is_keeper"]
    assert out[5]["url_group"] == 5 and out[5]["url_is_keeper"]
    assert out[4]["url_canonical"] is None


def test_domain_stats(spark):
    df = spark.createDataFrame([
        (1, "https://a.example.com/x"),
        (2, "https://www.a.example.com/x/"),      # same canonical as 1
        (3, "https://b.example.com/y"),
        (4, "https://shop.example.co.uk/z"),
        (5, "nope"),
    ], "doc_id long, url string")
    got = {r["domain"]: (r["n_docs"], r["n_urls"], r["n_dups"]) for r in
           ur.domain_stats(df, "url").collect()}
    assert got == {"example.com": (3, 2, 1),
                   "example.co.uk": (1, 1, 0)}


def test_domain_cap_over_under_and_null(spark):
    # hot.example.com: 5 docs, cap 3 -> exactly 3 keepers picked by the
    # stable (md5(id), id) order; cold.example.org: 2 docs, under cap
    # (no-window branch), all kept; a schemeless row has no domain and
    # is uncapped
    import hashlib
    rows = [(i, f"https://hot.example.com/p/{i}") for i in range(5)]
    rows += [(10, "https://cold.example.org/a"),
             (11, "https://cold.example.org/b"),
             (12, "no scheme")]
    df = spark.createDataFrame(rows, "id long, u string")
    out = {r["id"]: r for r in
           ur.domain_cap(df, "id", "u", k=3).collect()}
    assert len(out) == 8
    hot = [i for i in range(5)]
    expected_keep = set(sorted(
        hot, key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i))[:3])
    for i in hot:
        r = out[i]
        assert r["cap_domain"] == "example.com" and r["cap_n_domain"] == 5
        assert r["cap_keep"] == (i in expected_keep)
    for i in (10, 11):
        assert out[i]["cap_domain"] == "example.org"
        assert out[i]["cap_n_domain"] == 2 and out[i]["cap_keep"]
    assert out[12]["cap_domain"] is None and out[12]["cap_keep"]
    assert out[12]["cap_n_domain"] is None


def test_domain_cap_validates_k(spark):
    import pytest
    df = spark.createDataFrame([(1, "https://a.com/x")], "id long, u string")
    with pytest.raises(ValueError, match="k must be >= 1"):
        ur.domain_cap(df, "id", "u", k=0)


def test_domain_cap_mode_equivalence(spark):
    """Window vs two-phase-salted top-k produce IDENTICAL keep sets (the
    round-11 hot-domain reshape; a11135d mode-equivalence pattern).
    Three configurations over a skewed fixture — pure window, everything
    salted, and mixed (hot domain salted / small domain windowed) — must
    match each other AND a Python brute force of the spec:
    row_number() OVER (PARTITION BY domain ORDER BY md5(id), id) <= k."""
    import hashlib
    rows = [(i, f"https://hot.example.com/p/{i}") for i in range(500)]
    rows += [(1000 + i, f"https://small.example.org/p/{i}") for i in range(50)]
    rows += [(2000, "no scheme")]
    df = spark.createDataFrame(rows, "id long, u string")
    k = 7

    def run(**kw):
        out = ur.domain_cap(df, "id", "u", k=k, **kw).collect()
        return sorted((r["id"], r["cap_domain"], r["cap_n_domain"],
                       r["cap_keep"]) for r in out)

    window_only = run()                                   # default: 5M gate
    all_salted = run(salt_threshold=10, salt_target_rows=16)
    mixed = run(salt_threshold=100, salt_target_rows=64)
    assert window_only == all_salted == mixed

    def brute_keep(ids):
        order = sorted(ids, key=lambda i: (
            hashlib.md5(str(i).encode()).hexdigest(), i))
        return set(order[:k])

    hot_keep = brute_keep(range(500))
    small_keep = brute_keep(range(1000, 1050))
    for rid, dom, n, keep in window_only:
        if rid == 2000:
            assert dom is None and n is None and keep
        elif rid < 1000:
            assert dom == "example.com" and n == 500
            assert keep == (rid in hot_keep)
        else:
            assert dom == "example.org" and n == 50
            assert keep == (rid in small_keep)


def test_domain_cap_salted_phase1_discards_before_domain_sort(spark):
    """The salted path's phase-2 window input is bounded by k x salts,
    not the domain size: with 400 rows in one domain, k=3 and 8-row salt
    buckets (50 salts), phase 1 must discard >= 400 - 3*50 rows before
    any domain-wide ordering happens. Verified structurally: the plan
    contains a (domain, salt) window AND a domain-only window, and the
    result still equals the windowed form."""
    rows = [(i, f"https://big.example.com/{i}") for i in range(400)]
    df = spark.createDataFrame(rows, "id long, u string")
    salted = ur.domain_cap(df, "id", "u", k=3,
                           salt_threshold=10, salt_target_rows=8)
    plan = salted._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Window") >= 2            # phase-1 + phase-2 windows
    windowed = ur.domain_cap(df, "id", "u", k=3)
    a = sorted((r["id"], r["cap_keep"]) for r in salted.collect())
    b = sorted((r["id"], r["cap_keep"]) for r in windowed.collect())
    assert a == b and sum(keep for _, keep in a) == 3


def test_domain_cap_validates_salt_threshold(spark):
    import pytest
    df = spark.createDataFrame([(1, "https://a.com/x")], "id long, u string")
    with pytest.raises(ValueError, match="salt_threshold"):
        ur.domain_cap(df, "id", "u", k=10, salt_threshold=5)
