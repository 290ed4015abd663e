"""Locate a usable ``google.protobuf`` runtime for Spark 4's
``transformWithStateInPandas`` (SURVEY.md §2.9).

The new arbitrary-state API drives its Python-worker <-> JVM state
protocol over protobuf (``pyspark/sql/streaming/proto/StateMessage_pb2``,
generated by protoc 6.33).  A normal deployment gets the runtime from
``pip install protobuf>=6.33`` and this module is a no-op.  This
container has no ``google.protobuf`` on ``sys.path`` and installing
packages is out of contract — but it DOES ship a complete public
pure-Python protobuf runtime (6.32.0, BSD-licensed upstream code)
inside the Google Cloud SDK's bundled App Engine platform.  We add
that directory to ``sys.path`` when (and only when) the normal import
fails.

Version skew: protobuf's generated code refuses to load on ANY older
runtime, even 6.33 gencode on a 6.32 runtime.  Within a major version
the wire format and the gencode ABI (``AddSerializedFile`` +
``internal.builder``) are stable, so ``ensure_protobuf`` wraps the
validator to accept a same-major skew and then PROVES usability with a
serialize/parse round-trip of an actual ``StateMessage`` before
reporting success — a lying runtime fails the probe, not the query.

Worker use: a ``StatefulProcessor`` that also subclasses
``WorkerBootstrap`` runs ``ensure_protobuf()`` in the worker while it
is being unpickled — before the worker's state client builds its first
protobuf message.  The caller must ship this module BY VALUE
(``pyspark.cloudpickle.register_pickle_by_value``) because workers
cannot import the repo package.
"""

from __future__ import annotations

# Public on-disk pure-Python protobuf runtimes to try when
# ``google.protobuf`` is absent; each directory directly contains the
# ``google/`` package.
_FALLBACK_SYS_PATHS = (
    "/usr/lib/google-cloud-sdk/platform/google_appengine",
)


def _tolerate_same_major_skew() -> None:
    """Accept gencode whose minor/patch is ahead of the runtime's, same
    major only; defer every other violation to the stock validator."""
    from google.protobuf import runtime_version as rv

    if getattr(rv, "_same_major_skew_ok", False):
        return
    orig = rv.ValidateProtobufRuntimeVersion

    def validate(gen_domain, gen_major, gen_minor, gen_patch, gen_suffix, location):
        try:
            orig(gen_domain, gen_major, gen_minor, gen_patch, gen_suffix, location)
        except rv.VersionError:
            if gen_domain == rv.DOMAIN and gen_major == rv.MAJOR:
                return
            raise

    rv.ValidateProtobufRuntimeVersion = validate
    rv._same_major_skew_ok = True


def ensure_protobuf() -> bool:
    """Make ``google.protobuf`` importable and usable for Spark's
    streaming-state gencode.  Idempotent; safe in driver and worker."""
    import os
    import sys

    def _importable() -> bool:
        try:
            from google.protobuf import descriptor  # noqa: F401

            return True
        except ImportError:
            return False

    if not _importable():
        hit = False
        for d in _FALLBACK_SYS_PATHS:
            probe = os.path.join(d, "google", "protobuf", "descriptor.py")
            if not os.path.isfile(probe):
                continue
            added = d not in sys.path
            if added:
                sys.path.append(d)
            # Spark workers put jars on sys.path; a jar's `google/` class
            # directories import as an EMPTY namespace package that then
            # shadows the real package ("unknown location" ImportError).
            # Evict cached namespace-only google modules so the retry
            # re-resolves against the just-added path.
            for name in [
                m
                for m in list(sys.modules)
                if m == "google" or m.startswith("google.")
            ]:
                if getattr(sys.modules[name], "__file__", None) is None:
                    del sys.modules[name]
            if _importable():
                hit = True
                break
            if added:
                sys.path.remove(d)
        if not hit:
            return False

    try:
        from google.protobuf import runtime_version  # noqa: F401
    except ImportError:
        # pre-5.x runtime: Spark's gencode cannot load on it at all
        return False
    _tolerate_same_major_skew()

    # prove the pairing end-to-end: build + round-trip a real message
    try:
        import pyspark.sql.streaming.proto.StateMessage_pb2 as sm

        req = sm.StateRequest()
        req.version = 2
        out = sm.StateRequest()
        out.ParseFromString(req.SerializeToString())
        return out.version == 2
    except Exception:  # noqa: BLE001 — any failure means "not usable"
        return False


class WorkerBootstrap:
    """Mixin for transformWithState ``StatefulProcessor`` classes:
    unpickling an instance stands protobuf up first, then builds a
    fresh processor.

    Workers deserialize the UDF (the processor) before the state
    client sends its first protobuf message — in BOTH the executor
    worker (worker.py read_single_udf precedes the api client) and the
    PRE_INIT driver worker (transform_with_state_driver_worker.py
    read_command precedes set_handle_state).  Bootstrapping at unpickle
    time is therefore always early enough.  ``__reduce__``, not
    ``__setstate__``: pickle skips ``__setstate__`` entirely when the
    instance dict is empty, which it is pre-init."""

    def __reduce__(self):
        return (_rebuild_processor, (type(self),))


def _rebuild_processor(cls: type) -> object:
    if not ensure_protobuf():
        raise RuntimeError("google.protobuf unusable in worker")
    return cls()
