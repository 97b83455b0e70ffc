"""Serving layer (SURVEY §2.11; reference: pyc:tradingview_api_server).

Mirrors the reference's FastAPI surface — `POST /auth/token` issuance
(JWT HS256, expiry via an ``ACCESS_TOKEN_EXPIRE_MINUTES``-shaped
setting), JWT bearer auth, API-key check, sliding-window rate limiting,
CORS + TrustedHost middleware, `GET /screeners`, `GET /screeners/{name}`,
`POST /screeners/add`, `GET /health` — over the engine's SourceRegistry
instead of Selenium downloads. Queries execute on the shared SparkSession
(production: Spark Connect, so the API process holds no executors) and
return one JSON object per row (``to_json`` of the whole row, the
records ``DataFrame.toJSON`` would give) exactly like the reference's
ScreenerResponse.

FastAPI is not part of the engine's hard dependencies: ``create_app`` is
import-gated, while the auth / token-issuance / rate-limit / host-trust
primitives below are plain Python (unit-testable without the web
framework)."""

from __future__ import annotations

import base64
import hashlib
import hmac
import json
import time
from dataclasses import dataclass, field


# ---------------------------------------------------------------------------
# Auth primitives (JWT HS256 + API key), dependency-free.
# ---------------------------------------------------------------------------

def _b64url(data: bytes) -> str:
    return base64.urlsafe_b64encode(data).rstrip(b"=").decode()


def _b64url_dec(s: str) -> bytes:
    return base64.urlsafe_b64decode(s + "=" * (-len(s) % 4))


def make_jwt(payload: dict, secret: str, *, expires_in: int = 1800,
             now: float | None = None) -> str:
    now = time.time() if now is None else now
    body = dict(payload, exp=int(now + expires_in), iat=int(now))
    header = _b64url(json.dumps({"alg": "HS256", "typ": "JWT"}).encode())
    claims = _b64url(json.dumps(body, separators=(",", ":")).encode())
    sig = hmac.new(secret.encode(), f"{header}.{claims}".encode(),
                   hashlib.sha256).digest()
    return f"{header}.{claims}.{_b64url(sig)}"


def verify_jwt(token: str, secret: str, *, now: float | None = None) -> dict:
    """Returns claims; raises ValueError on bad signature / expiry
    (reference 401 behavior)."""
    try:
        header, claims, sig = token.split(".")
    except ValueError as e:
        raise ValueError("malformed token") from e
    expect = hmac.new(secret.encode(), f"{header}.{claims}".encode(),
                      hashlib.sha256).digest()
    if not hmac.compare_digest(_b64url(expect), sig):
        raise ValueError("bad signature")
    body = json.loads(_b64url_dec(claims))
    now = time.time() if now is None else now
    if body.get("exp") is not None and now >= body["exp"]:
        raise ValueError("token expired")
    return body


ACCESS_TOKEN_EXPIRE_MINUTES = 30     # reference default expiry window


class UserStore:
    """Credential store for token issuance: salted PBKDF2 hashes only —
    a leaked store never yields plaintext passwords. The reference keeps
    a user table checked by its ``/auth/token`` handler; same idea."""

    def __init__(self) -> None:
        self._users: dict[str, tuple[bytes, bytes]] = {}

    def add_user(self, username: str, password: str) -> None:
        import os as _os
        salt = _os.urandom(16)
        self._users[username] = (salt, self._hash(password, salt))

    @staticmethod
    def _hash(password: str, salt: bytes) -> bytes:
        return hashlib.pbkdf2_hmac("sha256", password.encode(), salt, 100_000)

    def verify(self, username: str, password: str) -> bool:
        rec = self._users.get(username)
        if rec is None:
            # burn a hash anyway so unknown-user probes take the same time
            self._hash(password, b"\x00" * 16)
            return False
        salt, expect = rec
        return hmac.compare_digest(self._hash(password, salt), expect)


def issue_token(users: UserStore, username: str, password: str, *,
                secret: str,
                expire_minutes: int = ACCESS_TOKEN_EXPIRE_MINUTES,
                now: float | None = None) -> dict:
    """``POST /auth/token`` body: verify credentials, mint an HS256 JWT
    with the configured expiry. Returns the OAuth2 password-flow shape
    ``{"access_token": ..., "token_type": "bearer"}``; raises ValueError
    on bad credentials (the route maps that to 401)."""
    if not users.verify(username, password):
        raise ValueError("incorrect username or password")
    token = make_jwt({"sub": username}, secret,
                     expires_in=expire_minutes * 60, now=now)
    return {"access_token": token, "token_type": "bearer"}


def host_allowed(host: str, allowed_hosts: list[str] | tuple[str, ...]) -> bool:
    """TrustedHost semantics (starlette): exact hostname match or a
    ``*.domain`` wildcard matching any single-or-deeper subdomain;
    ``"*"`` trusts everything. Port is ignored (Host header may carry
    one)."""
    hostname = (host or "").split(":")[0].lower()
    for pattern in allowed_hosts:
        p = pattern.lower()
        if p == "*" or hostname == p:
            return True
        if p.startswith("*.") and hostname.endswith(p[1:]):
            return True
    return False


def cors_headers(origin: str | None,
                 allow_origins: list[str] | tuple[str, ...]) -> dict:
    """CORS response headers for ``origin``, or ``{}`` when the origin
    is absent/not allowed (the browser then blocks the response)."""
    if not origin:
        return {}
    if "*" in allow_origins:
        return {"access-control-allow-origin": "*"}
    if origin in allow_origins:
        return {"access-control-allow-origin": origin, "vary": "Origin"}
    return {}


@dataclass
class RateLimiter:
    """In-memory sliding window, per client key (pyc:rate_limit_check:
    'Rate limit exceeded. Max {n} requests per {m} minutes')."""
    max_requests: int = 60
    window_seconds: int = 60
    _hits: dict[str, list[float]] = field(default_factory=dict)

    def check(self, client: str, *, now: float | None = None) -> bool:
        now = time.time() if now is None else now
        cutoff = now - self.window_seconds
        hits = [t for t in self._hits.get(client, []) if t > cutoff]
        if len(hits) >= self.max_requests:
            self._hits[client] = hits
            return False
        hits.append(now)
        self._hits[client] = hits
        return True


# ---------------------------------------------------------------------------
# Query execution over the registry
# ---------------------------------------------------------------------------

def run_named_source(spark, registry, name: str, *, limit: int = 1000) -> dict:
    """ScreenerResponse shape: {success, data, count, timestamp}.

    Rows are serialized by ``to_json`` inside the query, so the limit
    plans as ``CollectLimit`` (``TakeOrderedAndProject`` under an
    ``orderBy``) and a request over a one-file table runs one Spark
    job; ``CollectLimit`` reads further partitions in further jobs only
    while it holds fewer than ``limit`` rows. ``toJSON`` gives the same
    records through an RDD, which plans the limit as an exchange plus
    ``GlobalLimit``: two jobs."""
    from pyspark.sql import functions as F
    df = registry.load(spark, name).limit(limit)
    data = [json.loads(r[0]) for r in
            df.select(F.to_json(F.struct("*"))).collect()]
    return {"success": True, "data": data, "count": len(data),
            "timestamp": time.strftime("%Y-%m-%dT%H:%M:%S")}


def create_app(spark, registry, *, jwt_secret: str = "change-me",
               api_keys: frozenset[str] = frozenset(),
               limiter: RateLimiter | None = None,
               users: UserStore | None = None,
               token_expire_minutes: int = ACCESS_TOKEN_EXPIRE_MINUTES,
               allow_origins: tuple[str, ...] = ("*",),
               allowed_hosts: tuple[str, ...] = ("*",)):
    """FastAPI app mirroring the reference endpoints (incl. CORS +
    TrustedHost middleware and ``POST /auth/token``); requires fastapi."""
    try:
        from fastapi import Depends, FastAPI, HTTPException, Request
        from fastapi.middleware.cors import CORSMiddleware
        from fastapi.middleware.trustedhost import TrustedHostMiddleware
        from fastapi.security import HTTPAuthorizationCredentials, HTTPBearer
    except ImportError as e:  # pragma: no cover - not installed in harness
        raise ImportError("fastapi is not installed; serving layer is optional. "
                          "pip install fastapi uvicorn in production.") from e

    app = FastAPI(title="tradingview-data-pipeline-spark")
    # same middleware pair as the reference server; the pure predicates
    # (host_allowed / cors_headers) mirror these semantics for testing
    # in environments without the web framework
    app.add_middleware(TrustedHostMiddleware, allowed_hosts=list(allowed_hosts))
    app.add_middleware(CORSMiddleware, allow_origins=list(allow_origins),
                       allow_methods=["*"], allow_headers=["*"])
    limiter = limiter or RateLimiter()
    bearer = HTTPBearer(auto_error=False)

    def guard(request: Request,
              cred: "HTTPAuthorizationCredentials" = Depends(bearer)):
        client = request.client.host if request.client else "anon"
        if not limiter.check(client):
            raise HTTPException(429, "Rate limit exceeded")
        key = request.headers.get("x-api-key")
        if api_keys and key in api_keys:
            return {"sub": "api-key"}
        if cred is not None:
            try:
                return verify_jwt(cred.credentials, jwt_secret)
            except ValueError as err:
                raise HTTPException(401, str(err)) from err
        raise HTTPException(401, "missing credentials")

    @app.post("/auth/token")
    def auth_token(form: dict):
        if users is None:
            raise HTTPException(501, "no user store configured")
        try:
            return issue_token(users, form.get("username", ""),
                               form.get("password", ""), secret=jwt_secret,
                               expire_minutes=token_expire_minutes)
        except ValueError as err:
            raise HTTPException(401, str(err)) from err

    @app.get("/health")
    def health():
        return {"status": "ok", "spark": spark.version}

    @app.get("/screeners")
    def list_screeners(_auth: dict = Depends(guard)):
        return {"screeners": registry.list()}

    @app.get("/screeners/{name}")
    def get_screener(name: str, _auth: dict = Depends(guard)):
        try:
            return run_named_source(spark, registry, name)
        except KeyError as err:
            raise HTTPException(404, str(err)) from err

    @app.post("/screeners/add")
    def add_screener(spec: dict, _auth: dict = Depends(guard)):
        registry.add_path(spec["name"], spec["path"],
                          spec.get("format", "parquet"),
                          spec.get("description", ""))
        return {"success": True, "screeners": registry.list()}

    return app
