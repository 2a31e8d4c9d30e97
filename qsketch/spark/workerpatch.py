"""Worker-side protocol cost fixes (measured on pyspark 4.1.2).

Every Python-runner task (mapInArrow / applyInPandas / arrow_udf)
pays a fixed per-task protocol cost in ``pyspark.worker.main``.  On
this stack the dominant term is ``worker_util.setup_spark_files`` →
``importlib.invalidate_caches()``: CPython's ``zipimporter.
invalidate_caches`` re-reads the ENTIRE zip end-of-central-directory
for every cached zip finder — pyspark.zip (~1.3k entries) and a 15 MB
spark jar that Spark puts on the worker path — on EVERY task.
Measured: ~210 ms of a ~263 ms per-task overhead (no-op task, 8 pinned
cores; engine work per fine-grained task is ~350 ms, so this was a
~60% tax on the whole partial phase).

:func:`install` replaces ``importlib.invalidate_caches`` with a
guarded version that stats every ``sys.path`` entry and only delegates
to the real invalidation when something actually changed (entry
added/removed, or an entry's mtime moved — e.g. ``sc.addPyFile``
writing into the spark-files dir).  Correctness: FileFinder (directory)
caches are already self-validating by mtime on every import, and zip
finders only go stale if the zip file itself is rewritten — which the
mtime guard detects.  The guard costs ~15 µs/task instead of ~210 ms.

Install paths (both idempotent):
  * :mod:`qsketch.spark.fastdaemon` — a drop-in
    ``spark.python.daemon.module`` that installs the patch BEFORE
    pyspark's daemon forks workers, so every task of every job is fast
    (wired by :func:`qsketch.spark.session.make_session`).
  * :func:`ensure_worker_patched` — lazy fallback called at the top of
    the engine's own worker functions, for sessions that did not opt
    into the daemon module (first task per worker still pays the tax).
"""

from __future__ import annotations

import importlib
import os
import sys

_STATE_ATTR = "_qsketch_guarded_invalidate"


def _path_signature() -> tuple:
    sig = []
    for p in sys.path:
        try:
            st = os.stat(p)
            sig.append((p, st.st_mtime_ns, st.st_size))
        except OSError:
            sig.append((p, None, None))
    return tuple(sig)


def install() -> None:
    """Idempotently install both worker-side cost guards."""
    if not getattr(importlib.invalidate_caches, _STATE_ATTR, False):
        real = importlib.invalidate_caches
        state = {"sig": None}

        def guarded_invalidate_caches() -> None:
            sig = _path_signature()
            if sig != state["sig"]:
                real()
                state["sig"] = sig

        setattr(guarded_invalidate_caches, _STATE_ATTR, True)
        guarded_invalidate_caches.__doc__ = (
            "qsketch guarded importlib.invalidate_caches (see "
            "qsketch.spark.workerpatch); delegates to the real one when "
            "sys.path contents change.")
        importlib.invalidate_caches = guarded_invalidate_caches
    _install_gc_throttle()


#: gen-1 collection count (``gc.get_count()[2]`` — the number of gen-1
#: collections since the last FULL collection) above which a deferred
#: full collection runs anyway.  Each gen-1 cycle promotes its
#: survivors to gen-2, so this bounds how much cyclic garbage can pile
#: up in the oldest generation between full collections by allocation
#: activity, not only wall time: a cycle-heavy user UDF workload
#: sharing the session gets a real full collection after at most this
#: many gen-1 cycles even inside the 10 s window, while the acyclic
#: engine workload (one throttled gen-1 per task) still amortizes the
#: 68 ms full collect over ~50 tasks.
_GC_FULL_PENDING_THRESHOLD = 50


def _gc_throttle_enabled() -> bool:
    """The throttle rewrites process-global ``gc.collect`` in every
    worker; workloads whose UDF objects form reference cycles
    (pandas/user classes) can opt out with ``QSKETCH_GC_THROTTLE=0``
    (propagate via ``spark.executorEnv.QSKETCH_GC_THROTTLE`` on a real
    cluster; local mode inherits the driver environment)."""
    return os.environ.get("QSKETCH_GC_THROTTLE", "1").lower() not in (
        "0", "false", "off", "no")


def _due_for_full(state: dict, now: float, gen1_cycles: int) -> bool:
    """A daemon-loop full collection runs when EITHER 10 s have passed
    since the last one OR ``gen1_cycles`` (gen-1 collections since the
    last full collection, i.e. ``gc.get_count()[2]``) crossed
    :data:`_GC_FULL_PENDING_THRESHOLD` — allocation/promotion pressure
    bounds the deferral, not only wall time."""
    return (now - state["last_full"] >= 10.0
            or gen1_cycles >= _GC_FULL_PENDING_THRESHOLD)


def _install_gc_throttle() -> None:
    """pyspark's daemon reuse loop runs a FULL ``gc.collect()`` after
    every task — measured 68 ms/task here (the worker heap holds ~1M
    objects from the pyspark/pyarrow imports alone).  Only the daemon
    loop's calls are throttled: generation-1 normally, a real full
    collection when either 10 s have passed OR the number of gen-1
    collections since the last full one crosses
    :data:`_GC_FULL_PENDING_THRESHOLD` (each gen-1 cycle promotes its
    survivors to gen-2, so the deferral is bounded by promotion
    pressure, not only wall time).
    Engine allocations are acyclic NumPy/Arrow buffers freed by
    refcount, so deferring full cycles is safe; any OTHER caller of
    gc.collect (user code managing memory) still gets exactly what it
    asked for, and ``QSKETCH_GC_THROTTLE=0`` disables the throttle
    entirely for mixed-workload sessions."""
    import gc
    import time

    if not _gc_throttle_enabled():
        return
    if getattr(gc.collect, _STATE_ATTR, False):
        return
    real_collect = gc.collect
    state = {"last_full": 0.0}

    def throttled_collect(generation: int = 2):
        # only pyspark's own daemon reuse loop is throttled — a user
        # module that happens to be called daemon.py keeps full
        # collections (hence the package-qualified suffix match, which
        # covers both the zip and directory pyspark layouts)
        caller = sys._getframe(1).f_code.co_filename.replace("\\", "/")
        if generation == 2 and caller.endswith("pyspark/daemon.py"):
            now = time.monotonic()
            if not _due_for_full(state, now, gc.get_count()[2]):
                return real_collect(1)
            state["last_full"] = now
        return real_collect(generation)

    setattr(throttled_collect, _STATE_ATTR, True)
    gc.collect = throttled_collect


def _in_pyspark_worker() -> bool:
    """True only inside a pyspark daemon/worker process (its __main__
    is pyspark's daemon.py or worker.py — zip or directory layout)."""
    m = sys.modules.get("__main__")
    f = (getattr(m, "__file__", "") or "").replace("\\", "/")
    return f.endswith(("pyspark/daemon.py", "pyspark/worker.py"))


def ensure_worker_patched() -> None:
    """Lazy per-worker install for sessions without the fastdaemon
    module: importing the engine package in an EXECUTOR installs the
    guards; importing it in the driver or any other process is a no-op,
    so library users never get process-global patches as an import
    side effect."""
    if _in_pyspark_worker():
        install()
