"""Session factory with the memory-behavior settings the engine needs.

This sandbox (and any overcommitted/microVM environment) services
first-touch anonymous-page faults through the hypervisor: measured
~60 MB/s single-stream, ~900 MB/s peak at 16 concurrent faulters, and
COLLAPSING beyond that — while warm (already-faulted) pages stream at
5+ GB/s.  Since Spark reuses Python workers across tasks, the cure is
to make every worker's allocator RETAIN its arena instead of
mmap/munmap-cycling big NumPy/Arrow buffers:

  * MALLOC_MMAP_THRESHOLD_/MALLOC_TRIM_THRESHOLD_ pushed high so large
    buffers come from the (retained, warm) brk heap,
  * ARROW_DEFAULT_MEMORY_POOL=system so Arrow read buffers recycle
    through the same allocator.

After the first task per worker, the build runs fault-free — which is
also the steady state of a long job on a real cluster.
"""

from __future__ import annotations

import os

_ALLOC_ENV = {
    "MALLOC_MMAP_THRESHOLD_": str(1 << 30),
    "MALLOC_TRIM_THRESHOLD_": str(1 << 30),
    "ARROW_DEFAULT_MEMORY_POOL": "system",
    "OMP_NUM_THREADS": "1",  # no per-worker BLAS fan-out
}


def make_session(cpus: int, app: str = "qsketch", driver_mem: str = "16g",
                 master: str | None = None, **extra_conf):
    """Build the engine's SparkSession.

    ``master`` defaults to ``local[cpus]``; ``extra_conf`` entries
    override any setting below.  The fast-worker daemon
    module (and the PYTHONPATH plumbing it needs) is only wired for
    LOCAL masters: on a cluster the driver-local package root is not a
    valid executor path, and a daemon module that cannot import qsketch
    kills every python task.  Cluster deployments ship the package via
    ``spark-submit --py-files qsketch.zip`` (see cli.py / the e2e test)
    and get the same patch through the lazy in-worker fallback
    (workerpatch.ensure_worker_patched on first qsketch import).
    """
    from pyspark.sql import SparkSession

    master = master or f"local[{cpus}]"
    os.environ.update(_ALLOC_ENV)  # driver side + inherited by the JVM
    if master.startswith("local"):
        # daemon module with the per-task protocol fix pre-installed
        # (workerpatch.py: guarded importlib.invalidate_caches, ~210 ms
        # saved per python-runner task on this stack).  The daemon
        # process must be able to import qsketch: put the package root
        # (a directory or a --py-files zip) on the inherited PYTHONPATH.
        import qsketch as _q

        pkg_root = os.path.dirname(os.path.dirname(
            os.path.abspath(_q.__file__)))
        parts = os.environ.get("PYTHONPATH", "").split(os.pathsep)
        if pkg_root not in parts:
            os.environ["PYTHONPATH"] = os.pathsep.join(
                [pkg_root] + [p for p in parts if p])
        extra_conf.setdefault("spark.python.daemon.module",
                              "qsketch.spark.fastdaemon")
        extra_conf.setdefault("spark.executorEnv.PYTHONPATH",
                              os.environ["PYTHONPATH"])
    b = (SparkSession.builder.master(master).appName(app)
         .config("spark.sql.shuffle.partitions", str(cpus))
         .config("spark.sql.session.timeZone", "UTC")  # NTZ casts and
         # epoch arithmetic must not depend on the host's zone
         .config("spark.sql.adaptive.enabled", "true")
         .config("spark.driver.memory", driver_mem)
         .config("spark.ui.enabled", "false")
         .config("spark.sql.execution.arrow.maxRecordsPerBatch", "16384")
         .config("spark.sql.files.maxPartitionBytes", "128m"))
    for k, v in _ALLOC_ENV.items():
        b = b.config(f"spark.executorEnv.{k}", v)
    for k, v in extra_conf.items():
        b = b.config(k, v)
    return b.getOrCreate()
