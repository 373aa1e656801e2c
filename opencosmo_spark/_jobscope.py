"""Name the Spark jobs a library call starts.

Spark names each job after the thread-local ``callSite.short`` /
``callSite.long`` properties when they are set; otherwise after a JVM
frame (``$anonfun$withThreadLocalCaptured$2 at CompletableFuture.java``
for most jobs a DataFrame action starts). Broadcasts and adaptive
query stages capture the submitting thread's properties, so their jobs
carry the name too. ``job_scope`` sets both properties for the length
of a block and restores the caller's values after it. It leaves the
job group and description alone: those belong to the caller (a
benchmark harness, a notebook).
"""

from __future__ import annotations

from contextlib import contextmanager

_KEYS = ("callSite.short", "callSite.long")


@contextmanager
def job_scope(sc, name: str):
    """Name every job ``sc`` starts on this thread inside the block
    ``name`` (``opencosmo_spark.<module>.<op>``)."""
    old = [sc.getLocalProperty(k) for k in _KEYS]
    for k in _KEYS:
        sc.setLocalProperty(k, name)
    try:
        yield
    finally:
        for k, v in zip(_KEYS, old):
            sc.setLocalProperty(k, v)
