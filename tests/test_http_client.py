"""Unit tests for the HTTP seam (sources/http_client.py): scripted
transports + virtual clocks — no sockets, no real sleeping."""

from __future__ import annotations

import json

import pytest

from play_bq_gcp_spark.sources.http_client import (
    HttpStatusError,
    Request,
    Response,
    RestClient,
    RetriesExhausted,
    TokenBucket,
    TransportError,
)


class ScriptedTransport:
    """Returns (or raises) the scripted outcomes in order; records
    every request it saw."""

    def __init__(self, outcomes):
        self.outcomes = list(outcomes)
        self.requests: list[Request] = []

    def send(self, request: Request) -> Response:
        self.requests.append(request)
        out = self.outcomes.pop(0)
        if isinstance(out, Exception):
            raise out
        return out


def _ok(payload: dict) -> Response:
    return Response(200, json.dumps(payload).encode())


def _client(transport, **kw):
    sleeps: list[float] = []
    kw.setdefault("sleeper", sleeps.append)
    c = RestClient(transport=transport, **kw)
    return c, sleeps


def test_success_passes_through_and_merges_headers():
    t = ScriptedTransport([_ok({"v": 1})])
    c, _ = _client(t, default_headers={"Authorization": "Bearer x"})
    r = c.get("https://api.example/a", headers={"Accept": "application/json"})
    assert r.json() == {"v": 1}
    assert t.requests[0].headers == {
        "Authorization": "Bearer x",
        "Accept": "application/json",
    }


def test_retries_transport_errors_then_succeeds():
    t = ScriptedTransport(
        [TransportError("reset"), TransportError("reset"), _ok({"v": 2})]
    )
    c, sleeps = _client(t, max_attempts=5, backoff_base_s=1.0)
    assert c.get("https://api.example/a").json() == {"v": 2}
    assert len(sleeps) == 2
    # exponential base doubles: attempt 0 in [0.5,1.0), attempt 1 in [1,2)
    assert 0.5 <= sleeps[0] < 1.0 and 1.0 <= sleeps[1] < 2.0


def test_backoff_is_deterministic_across_runs():
    def run():
        t = ScriptedTransport([TransportError("x"), TransportError("x"), _ok({})])
        c, sleeps = _client(t)
        c.get("https://api.example/a")
        return sleeps

    assert run() == run()


def test_retry_after_header_overrides_backoff():
    t = ScriptedTransport([Response(429, b"", {"Retry-After": "7"}), _ok({})])
    c, sleeps = _client(t)
    c.get("https://api.example/a")
    assert sleeps == [7.0]


def test_non_retryable_4xx_raises_immediately():
    t = ScriptedTransport([Response(404, b"nope")])
    c, sleeps = _client(t)
    with pytest.raises(HttpStatusError) as ei:
        c.get("https://api.example/missing")
    assert ei.value.response.status == 404
    assert sleeps == [] and len(t.requests) == 1


def test_exhaustion_raises_with_last_error():
    t = ScriptedTransport([Response(503, b"")] * 3)
    c, _ = _client(t, max_attempts=3)
    with pytest.raises(RetriesExhausted) as ei:
        c.get("https://api.example/a")
    assert ei.value.attempts == 3
    assert isinstance(ei.value.last, HttpStatusError)
    assert len(t.requests) == 3


def test_token_bucket_paces_in_virtual_time():
    now = [0.0]
    waits: list[float] = []

    def sleeper(s):
        waits.append(s)
        now[0] += s

    b = TokenBucket(rate=2.0, burst=2, clock=lambda: now[0], sleeper=sleeper)
    for _ in range(4):
        b.acquire()
    # burst of 2 free, then one token each 0.5 s
    assert waits == [pytest.approx(0.5), pytest.approx(0.5)]


def test_client_acquires_token_per_attempt():
    now = [0.0]

    def sleeper(s):
        now[0] += s

    bucket = TokenBucket(rate=1.0, burst=1, clock=lambda: now[0], sleeper=sleeper)
    t = ScriptedTransport([Response(500, b""), _ok({})])
    c, _ = _client(t, bucket=bucket, max_attempts=2)
    c.get("https://api.example/a")
    assert len(t.requests) == 2  # both attempts went through the bucket
