"""HTTP seam for the external-REST source (SURVEY.md §2.1 S1, §4.3-2).

The reference delegates transport, auth-token refresh, retry, and
paging to its API SDK (/root/reference/main.py:75-91 builds a client
and iterates ``client.title_stats()``); none of that machinery is
visible or testable there.  This module writes the seam down:

* ``Transport`` — the only thing that touches a socket.  Injected, so
  the client logic (retry, rate limit, paging) is testable with a
  scripted fake, and the no-network container never needs a socket.
  ``UrllibTransport`` is the real stdlib-backed implementation for
  deployments.
* ``TokenBucket`` — client-side rate limiting (requests/sec with
  burst), the polite-scraper contract every public API expects.  The
  clock and sleeper are injected so tests run in virtual time.
* ``RestClient`` — GET with bounded retries: exponential backoff with
  DETERMINISTIC jitter (hash of attempt+url, not ``random`` — reruns
  behave identically), ``Retry-After`` honored when the server sends
  one, 429/5xx/transport errors retried, other 4xx raised immediately
  (a 401/404 never heals by retrying).

Scale shape: one ``RestClient`` per *executor task* (each input
partition of the DataSource fetches its own page range), so the token
bucket bounds per-task politeness and the cluster-wide rate is
``rate × concurrent tasks`` — size ``rate`` accordingly.
"""

from __future__ import annotations

import hashlib
import json
import time as _time
from collections.abc import Callable
from dataclasses import dataclass, field


@dataclass(frozen=True)
class Request:
    url: str
    headers: dict[str, str] = field(default_factory=dict)


@dataclass(frozen=True)
class Response:
    status: int
    body: bytes
    headers: dict[str, str] = field(default_factory=dict)

    def json(self) -> dict:
        return json.loads(self.body.decode("utf-8"))


class TransportError(Exception):
    """Connection-level failure (DNS, reset, timeout) — retryable."""


class HttpStatusError(Exception):
    def __init__(self, response: Response) -> None:
        super().__init__(f"HTTP {response.status}")
        self.response = response


class RetriesExhausted(Exception):
    def __init__(self, attempts: int, last: Exception) -> None:
        super().__init__(f"gave up after {attempts} attempts: {last}")
        self.attempts = attempts
        self.last = last


class UrllibTransport:
    """Real transport over the stdlib (no third-party deps).  Import of
    ``urllib`` is local so environments without network never pay for
    it; errors normalize to ``TransportError`` so the retry policy has
    one failure type to reason about."""

    def __init__(self, timeout_s: float = 30.0) -> None:
        self.timeout_s = timeout_s

    def send(self, request: Request) -> Response:
        import urllib.error
        import urllib.request

        req = urllib.request.Request(request.url, headers=request.headers)
        try:
            with urllib.request.urlopen(req, timeout=self.timeout_s) as r:
                return Response(r.status, r.read(), dict(r.headers.items()))
        except urllib.error.HTTPError as e:  # status line received
            return Response(e.code, e.read() or b"", dict(e.headers.items()))
        except urllib.error.URLError as e:  # no status line: socket-level
            raise TransportError(str(e.reason)) from e


class TokenBucket:
    """Classic token bucket: ``rate`` tokens/sec refill, ``burst``
    capacity.  ``acquire()`` blocks (via the injected sleeper) until a
    token is available — callers never busy-wait and never exceed the
    configured steady-state rate."""

    def __init__(
        self,
        rate: float,
        burst: int = 1,
        clock: Callable[[], float] = _time.monotonic,
        sleeper: Callable[[float], None] = _time.sleep,
    ) -> None:
        if rate <= 0:
            raise ValueError("rate must be positive")
        self.rate = float(rate)
        self.burst = max(1, int(burst))
        self._clock = clock
        self._sleep = sleeper
        self._tokens = float(self.burst)
        self._last = self._clock()

    def _refill(self) -> None:
        now = self._clock()
        self._tokens = min(
            float(self.burst), self._tokens + (now - self._last) * self.rate
        )
        self._last = now

    def acquire(self) -> None:
        self._refill()
        if self._tokens < 1.0:
            self._sleep((1.0 - self._tokens) / self.rate)
            self._refill()
            # float refill of an exact wait can land a hair under 1.0
            self._tokens = max(self._tokens, 1.0)
        self._tokens -= 1.0


def _deterministic_jitter(attempt: int, url: str) -> float:
    """[0,1) jitter from a hash, not ``random``: spreads concurrent
    clients (different URLs/attempts → different phases) while keeping
    any single run exactly reproducible."""
    h = hashlib.md5(f"{attempt}:{url}".encode()).hexdigest()
    return int(h[:6], 16) / float(16**6)


class RestClient:
    """GET with rate limiting and bounded, jittered, header-aware
    retries.  All collaborators injectable; defaults are production
    (urllib transport, monotonic clock, real sleep)."""

    RETRYABLE_STATUS = frozenset({429, 500, 502, 503, 504})

    def __init__(
        self,
        transport=None,
        bucket: TokenBucket | None = None,
        max_attempts: int = 5,
        backoff_base_s: float = 0.5,
        backoff_cap_s: float = 30.0,
        sleeper: Callable[[float], None] = _time.sleep,
        default_headers: dict[str, str] | None = None,
    ) -> None:
        self.transport = transport or UrllibTransport()
        self.bucket = bucket
        self.max_attempts = max(1, int(max_attempts))
        self.backoff_base_s = backoff_base_s
        self.backoff_cap_s = backoff_cap_s
        self._sleep = sleeper
        self.default_headers = dict(default_headers or {})

    def _backoff(self, attempt: int, url: str, response: Response | None) -> float:
        if response is not None and "Retry-After" in response.headers:
            try:
                return min(
                    float(response.headers["Retry-After"]), self.backoff_cap_s
                )
            except ValueError:
                pass  # HTTP-date form: fall through to exponential
        base = min(self.backoff_base_s * (2**attempt), self.backoff_cap_s)
        return base * (0.5 + 0.5 * _deterministic_jitter(attempt, url))

    def get(self, url: str, headers: dict[str, str] | None = None) -> Response:
        merged = {**self.default_headers, **(headers or {})}
        last_exc: Exception | None = None
        for attempt in range(self.max_attempts):
            if self.bucket is not None:
                self.bucket.acquire()
            try:
                resp = self.transport.send(Request(url, merged))
            except TransportError as e:
                last_exc = e
                if attempt + 1 < self.max_attempts:
                    self._sleep(self._backoff(attempt, url, None))
                continue
            if resp.status < 400:
                return resp
            if resp.status in self.RETRYABLE_STATUS:
                last_exc = HttpStatusError(resp)
                if attempt + 1 < self.max_attempts:
                    self._sleep(self._backoff(attempt, url, resp))
                continue
            raise HttpStatusError(resp)  # non-retryable 4xx: fail fast
        raise RetriesExhausted(self.max_attempts, last_exc)

