"""SQL surface: register sketch probes as Spark SQL functions.

Lets SQL users consume finished sketch states without touching the
Python API:

    register_membership(spark, "qf_contains", state_bytes)
    spark.sql("SELECT token, qf_contains(token_id) AS hit FROM toks")

Every function here is an Arrow UDF: integer ids arrive as Arrow arrays
whose validity bitmap carries the NULLs, so no id is widened to float64
and NULL in gives NULL out.  The probes are the same broadcast-state UDF
as ``agg.with_membership``/``with_frequency`` (``agg._state_udf``): one
broadcast per registration, the state deserialized once per worker.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ..hash import fnv1a64
from .agg import (_HASH_KINDS, SketchSpec, _Acc, _contains, _frequency,
                  _int64_ids, _keep_nulls, _state_cardinality, _state_udf)
from .textops import _hash_str_arrow


def register_membership(spark: SparkSession, name: str,
                        sketch_bytes: bytes) -> None:
    spark.udf.register(name, _state_udf(spark, sketch_bytes, "boolean",
                                        _contains))


def register_frequency(spark: SparkSession, name: str,
                       cms_bytes: bytes) -> None:
    spark.udf.register(name, _state_udf(spark, cms_bytes, "long",
                                        _frequency))


def register_sketch_build(spark: SparkSession, kind: str,
                          name: str | None = None,
                          params: dict | None = None) -> str:
    """SQL-visible sketch BUILD: registers a grouped-agg Arrow UDF so

    SQL users can build sketch states with plain GROUP BY::

        register_sketch_build(spark, "hll")
        spark.sql("SELECT source, qsketch_hll_build(token_id) AS state"
                  "  FROM toks GROUP BY source")

    NOTE: Spark grouped-agg UDFs have no partial-aggregation path — raw
    values shuffle to their group.  The 100-TB build path remains
    agg.build / agg.build_grouped (map-side partials, state-only
    shuffle); this is the SQL interop/convenience surface.  Returns the
    registered function name."""
    params = params or {}
    name = name or f"qsketch_{kind}_build"
    spec = SketchSpec(kind, "v", params)

    def build_state(v: pa.Array) -> bytes:
        acc = _Acc(spec)
        v = v.drop_null()
        if kind in _HASH_KINDS:
            u, c = np.unique(_int64_ids(v), return_counts=True)
            acc.add(u, fnv1a64(u), c)
        else:  # quantile sketches take raw numerics, floats included
            acc.add(v.to_numpy(zero_copy_only=False), None)
        return acc.finish()

    spark.udf.register(name, F.arrow_udf(build_state, "binary"))
    return name


def register_estimate(spark: SparkSession, name: str = "qsketch_estimate") -> None:
    """Scalar decode of a serialized state -> its headline estimate

    (``cardinality()``: QF exact count, HLL/KMV estimate), so a full
    build+read round trip is expressible in SQL.  A state without
    ``cardinality()`` (CMS, Bloom, quantile sketches) raises TypeError."""
    def est(states: pa.Array) -> pa.Array:
        return pa.array([float(_state_cardinality(b))
                         for b in states.to_pylist()], pa.float64())

    spark.udf.register(name, F.arrow_udf(est, "double"))


def register_fingerprint(spark: SparkSession, name: str = "fnv1a64") -> None:
    """Reference-parity FNV-1a64 fingerprints from SQL (filter.go:134):

    integer columns hash their 8-byte LE encoding; string columns hash
    their UTF-8 bytes (exactly /root/reference/server.go:100)."""
    def fn(col: pa.Array) -> pa.Array:
        if pa.types.is_binary(col.type):  # raw bytes hash like UTF-8 ones
            col = col.view(pa.string())
        elif pa.types.is_large_binary(col.type):
            col = col.view(pa.large_string())
        if pa.types.is_string(col.type) or pa.types.is_large_string(col.type):
            h = _hash_str_arrow(col.fill_null(""))
        else:
            h = fnv1a64(_int64_ids(col))
        return _keep_nulls(col, h.view(np.int64))

    spark.udf.register(name, F.arrow_udf(fn, "long"))
