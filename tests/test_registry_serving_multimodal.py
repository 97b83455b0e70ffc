"""S11 registry, serving-layer primitives, multimodal plumbing."""

import pytest

from tradingview_data_pipeline_spark.operators import multimodal as mm
from tradingview_data_pipeline_spark.serving.api import (
    ACCESS_TOKEN_EXPIRE_MINUTES, RateLimiter, UserStore, cors_headers,
    host_allowed, issue_token, make_jwt, run_named_source, verify_jwt,
)
from tradingview_data_pipeline_spark.sources.registry import SourceRegistry


def test_registry_add_list_load(spark, tmp_path):
    p = tmp_path / "t.parquet"
    spark.createDataFrame([(1, "a")], "id int, v string").write.parquet(str(p))
    reg = SourceRegistry()
    reg.add_path("mytab", str(p), "parquet", description="demo")
    assert reg.list() == [{"name": "mytab", "format": "parquet", "description": "demo"}]
    assert reg.load(spark, "mytab").count() == 1
    with pytest.raises(KeyError):
        reg.load(spark, "nope")
    with pytest.raises(ValueError):
        reg.add_path("mytab", str(p))


def test_run_named_source_response_shape(spark, tmp_path):
    p = tmp_path / "t2.parquet"
    spark.createDataFrame([(i,) for i in range(5)], "id int").write.parquet(str(p))
    reg = SourceRegistry()
    reg.add_path("t2", str(p))
    resp = run_named_source(spark, reg, "t2", limit=3)
    assert resp["success"] is True and resp["count"] == 3
    assert {"id"} == set(resp["data"][0].keys())


def _screener_frame(spark):
    """The stock_rankings column types (string, double, int, timestamp)
    plus a long and a date, with NULLs in every nullable column."""
    import datetime as dt
    ts = dt.datetime(2024, 3, 1, 15, 30, 12, 345000)
    rows = [("AAA", 81.25, 3, ts, 1_234_567_890_123, dt.date(2024, 3, 1)),
            ("BBB", None, None, None, None, None),
            ("CCC", 1e-7, -1, ts, -5, dt.date(1999, 12, 31)),
            ("DDD", 12345678901.5, 0, ts, 0, dt.date(2024, 2, 29)),
            ("EEE", -0.1, 7, ts, 42, None)]
    return spark.createDataFrame(
        rows, "symbol string, composite_score double, fundamental_rank int, "
              "update_date timestamp, volume long, day date")


def test_run_named_source_records_match_tojson(spark):
    """Response records equal, key order included, what ``toJSON`` gave
    for the same frame, with and without an orderBy (top-N)."""
    import json

    from pyspark.sql import functions as F

    from tradingview_data_pipeline_spark.sources.registry import SourceSpec

    base = _screener_frame(spark)
    top = base.orderBy(F.desc_nulls_last("composite_score"), "symbol")
    reg = SourceRegistry()
    reg.add(SourceSpec("all", builder=lambda sp: base))
    reg.add(SourceSpec("top", builder=lambda sp: top))
    for name, df, limit, n in (("all", base, 1000, 5), ("top", top, 3, 3)):
        data = run_named_source(spark, reg, name, limit=limit)["data"]
        old = [json.loads(r) for r in df.limit(limit).toJSON().collect()]
        if name == "all":
            data = sorted(data, key=lambda r: r["symbol"])
            old = sorted(old, key=lambda r: r["symbol"])
            assert {"symbol": "BBB"} in data      # NULL fields omitted
        assert len(data) == n
        assert [list(r.items()) for r in data] == \
            [list(r.items()) for r in old]


def test_run_named_source_lookup_is_one_job(spark, tmp_path):
    """A read_key-style filtered lookup over a one-file table serves in
    exactly one Spark job."""
    from pyspark.sql import functions as F

    from tradingview_data_pipeline_spark.sources.registry import SourceSpec

    path = str(tmp_path / "rankings")
    frame = _screener_frame(spark)
    frame.coalesce(1).write.parquet(path)
    table = spark.read.schema(frame.schema).parquet(path)
    reg = SourceRegistry()
    reg.add(SourceSpec("symbol/CCC", builder=lambda sp: table.where(
        F.col("symbol") == F.lit("CCC"))))
    sc = spark.sparkContext
    sc.setJobGroup("screener-lookup", "one-job probe")
    try:
        resp = run_named_source(spark, reg, "symbol/CCC")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert [r["symbol"] for r in resp["data"]] == ["CCC"]
    assert len(sc.statusTracker().getJobIdsForGroup("screener-lookup")) == 1


def test_jwt_roundtrip_and_expiry():
    tok = make_jwt({"sub": "u1"}, "secret", expires_in=60, now=1000.0)
    claims = verify_jwt(tok, "secret", now=1030.0)
    assert claims["sub"] == "u1"
    with pytest.raises(ValueError, match="expired"):
        verify_jwt(tok, "secret", now=2000.0)
    with pytest.raises(ValueError, match="signature"):
        verify_jwt(tok + "x", "secret", now=1030.0)
    with pytest.raises(ValueError, match="signature"):
        verify_jwt(make_jwt({}, "other", now=1000.0), "secret", now=1001.0)


def test_auth_token_issuance_roundtrip():
    """POST /auth/token semantics: valid credentials mint a bearer JWT
    that verifies until the configured expiry, then 401s (ValueError)."""
    users = UserStore()
    users.add_user("alice", "s3cret")
    resp = issue_token(users, "alice", "s3cret", secret="k", now=1000.0)
    assert resp["token_type"] == "bearer"
    claims = verify_jwt(resp["access_token"], "k", now=1000.0 + 60)
    assert claims["sub"] == "alice"
    assert claims["exp"] == 1000 + ACCESS_TOKEN_EXPIRE_MINUTES * 60
    # expiry honored: one second past exp -> rejected like the 401 path
    with pytest.raises(ValueError, match="expired"):
        verify_jwt(resp["access_token"], "k",
                   now=1000.0 + ACCESS_TOKEN_EXPIRE_MINUTES * 60 + 1)
    # custom expiry window (the ACCESS_TOKEN_EXPIRE_MINUTES setting)
    short = issue_token(users, "alice", "s3cret", secret="k",
                        expire_minutes=1, now=1000.0)
    with pytest.raises(ValueError, match="expired"):
        verify_jwt(short["access_token"], "k", now=1061.0)


def test_auth_token_rejects_bad_credentials():
    users = UserStore()
    users.add_user("alice", "s3cret")
    with pytest.raises(ValueError, match="incorrect"):
        issue_token(users, "alice", "wrong", secret="k")
    with pytest.raises(ValueError, match="incorrect"):
        issue_token(users, "mallory", "s3cret", secret="k")


def test_trusted_host_semantics():
    allowed = ["api.example.com", "*.svc.example.com"]
    assert host_allowed("api.example.com", allowed)
    assert host_allowed("api.example.com:8443", allowed)   # port ignored
    assert host_allowed("a.svc.example.com", allowed)      # wildcard
    assert host_allowed("deep.a.svc.example.com", allowed)
    assert not host_allowed("evil.com", allowed)           # rejected
    assert not host_allowed("api.example.com.evil.com", allowed)
    assert not host_allowed("", allowed)
    assert host_allowed("anything", ["*"])


def test_cors_header_semantics():
    assert cors_headers("https://ui.example.com", ["*"]) \
        == {"access-control-allow-origin": "*"}
    hdrs = cors_headers("https://ui.example.com", ["https://ui.example.com"])
    assert hdrs["access-control-allow-origin"] == "https://ui.example.com"
    assert cors_headers("https://evil.com", ["https://ui.example.com"]) == {}
    assert cors_headers(None, ["*"]) == {}


def test_create_app_wires_token_route_and_middleware(spark):
    """When fastapi is installed, the app must expose /auth/token and
    carry the CORS + TrustedHost middleware; absent fastapi, create_app
    raises the documented ImportError (primitives above stay covered)."""
    try:
        import fastapi  # noqa: F401
    except ImportError:
        from tradingview_data_pipeline_spark.serving.api import create_app
        with pytest.raises(ImportError, match="fastapi"):
            create_app(spark, SourceRegistry())
        return
    from tradingview_data_pipeline_spark.serving.api import create_app
    app = create_app(spark, SourceRegistry(),
                     allowed_hosts=("api.example.com",),
                     allow_origins=("https://ui.example.com",))
    routes = {r.path for r in app.routes}
    assert "/auth/token" in routes
    mids = {m.cls.__name__ for m in app.user_middleware}
    assert {"TrustedHostMiddleware", "CORSMiddleware"} <= mids


def test_rate_limiter_sliding_window():
    rl = RateLimiter(max_requests=3, window_seconds=10)
    assert all(rl.check("c", now=100.0 + i) for i in range(3))
    assert not rl.check("c", now=104.0)          # 4th within window
    assert rl.check("other", now=104.0)          # independent client
    assert rl.check("c", now=111.5)              # window slid


def test_multimodal_feature_extraction_plumbing(spark):
    media = mm.make_fake_media(spark, n=10)
    feats = mm.extract_image_features(media)
    rows = feats.collect()
    assert len(rows) == 10
    r = {x["media_id"]: x for x in rows}["m003"]
    assert len(r["feature"]) == 16 and all(0 <= v <= 1 for v in r["feature"])
    assert r["n_bytes"] == 16                     # 4 bytes * (i+1)
    assert len(r["content_sha1"]) == 40
    # deterministic: same payload -> same feature on rerun
    again = {x["media_id"]: x for x in mm.extract_image_features(media).collect()}
    assert again["m003"]["feature"] == r["feature"]


def test_multimodal_resize_and_frame_plans(spark):
    media = mm.make_fake_media(spark, n=3)
    resized = mm.resize_spec(media, max_side=16)
    r = {x["media_id"]: x for x in resized.collect()}["m000"]
    assert max(r["target_width"], r["target_height"]) == 16

    vid = spark.createDataFrame(
        [("v1", "video", "video/fake", None, (None, None, 3500, None))],
        mm.MEDIA_SCHEMA)
    frames = mm.frame_sample_plan(vid, every_ms=1000)
    assert [f["frame_ms"] for f in frames.collect()] == [0, 1000, 2000, 3000]


def test_custom_decoder_registration(spark):
    def decoder(payload: bytes) -> dict:
        return {"width": 1, "height": 2, "feature": [0.5], "sha1": "x" * 40}
    old = mm._DECODER
    try:
        mm.register_decoder(decoder)
        out = mm.extract_image_features(mm.make_fake_media(spark, n=2)).collect()
        assert all(r["width"] == 1 and r["feature"] == [0.5] for r in out)
    finally:
        mm.register_decoder(old)
