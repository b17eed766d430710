"""Pure-Python xxHash64 (public algorithm, https://github.com/Cyan4973/xxHash
spec). The reference content-addresses chunks with
``xxhash.xxh64((content + doc_id)).hexdigest()``
(/root/reference/rag/svr/task_executor.py:266) and task digests with xxh64
over the sorted config (/root/reference/api/db/services/task_service.py:349-360).
The sandbox has no xxhash wheel, so the 64-bit variant is implemented here
from the published specification and verified against its official test
vectors (tests/test_xxh64.py). Its JVM twin is ``xxh64_hex_col``.
"""

from __future__ import annotations

import struct

_P1 = 11400714785074694791
_P2 = 14029467366897019727
_P3 = 1609587929392839161
_P4 = 9650029242287828579
_P5 = 2870177450012600261
_MASK = 0xFFFFFFFFFFFFFFFF


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _MASK


def _round(acc: int, lane: int) -> int:
    acc = (acc + lane * _P2) & _MASK
    return (_rotl(acc, 31) * _P1) & _MASK


def _merge_round(acc: int, val: int) -> int:
    acc ^= _round(0, val)
    return ((acc * _P1) + _P4) & _MASK


def xxh64_int(data: bytes, seed: int = 0) -> int:
    n = len(data)
    idx = 0
    if n >= 32:
        v1 = (seed + _P1 + _P2) & _MASK
        v2 = (seed + _P2) & _MASK
        v3 = seed & _MASK
        v4 = (seed - _P1) & _MASK
        limit = n - 32
        while idx <= limit:
            lanes = struct.unpack_from("<4Q", data, idx)
            v1 = _round(v1, lanes[0])
            v2 = _round(v2, lanes[1])
            v3 = _round(v3, lanes[2])
            v4 = _round(v4, lanes[3])
            idx += 32
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)) & _MASK
        h = _merge_round(h, v1)
        h = _merge_round(h, v2)
        h = _merge_round(h, v3)
        h = _merge_round(h, v4)
    else:
        h = (seed + _P5) & _MASK

    h = (h + n) & _MASK

    while idx + 8 <= n:
        (k1,) = struct.unpack_from("<Q", data, idx)
        h ^= _round(0, k1)
        h = ((_rotl(h, 27) * _P1) + _P4) & _MASK
        idx += 8
    if idx + 4 <= n:
        (k1,) = struct.unpack_from("<I", data, idx)
        h ^= (k1 * _P1) & _MASK
        h = ((_rotl(h, 23) * _P2) + _P3) & _MASK
        idx += 4
    while idx < n:
        h ^= (data[idx] * _P5) & _MASK
        h = (_rotl(h, 11) * _P1) & _MASK
        idx += 1

    h ^= h >> 33
    h = (h * _P2) & _MASK
    h ^= h >> 29
    h = (h * _P3) & _MASK
    h ^= h >> 32
    return h


def xxh64_hexdigest(data, seed: int = 0) -> str:
    """Hex digest, matching ``xxhash.xxh64(data).hexdigest()``."""
    if isinstance(data, str):
        data = data.encode("utf-8")
    return format(xxh64_int(data, seed), "016x")


def chunk_id(content: str, doc_key: str) -> str:
    """Content-addressed chunk id, mirroring
    /root/reference/rag/svr/task_executor.py:266:
    ``xxhash.xxh64((chunk["content_with_weight"] + str(chunk["doc_id"]))
    .encode("utf-8")).hexdigest()``."""
    return xxh64_hexdigest((content + doc_key).encode("utf-8"))


def jvm_class(name: str):
    """The JVM class ``name``, named in full: each package segment of an
    ``sc._jvm`` lookup is a py4j round trip. Calling pyspark's
    ``functions`` through it also skips the dozen round trips of call-site
    capture that each ``F.*`` call makes."""
    from py4j.java_gateway import JavaClass
    from pyspark import SparkContext

    return JavaClass(
        name, SparkContext._active_spark_context._gateway._gateway_client)


def xxh64_hex_col(data):
    """``xxh64_hexdigest`` of a binary column:
    ``lpad(lower(hex(XxHash64([data], seed=0))), 16, '0')``, because
    ``F.xxhash64`` fixes its seed at 42. Built with the classic-session
    (not Spark Connect) ``ExpressionUtils``."""
    from pyspark.sql import Column

    utils = jvm_class("org.apache.spark.sql.classic.ExpressionUtils")
    seq = jvm_class("org.apache.spark.api.python.PythonUtils").toSeq
    fns = jvm_class("org.apache.spark.sql.functions")
    hashed = jvm_class("org.apache.spark.sql.catalyst.expressions.XxHash64")(
        seq([utils.expression(data._jc)]), 0)
    return Column(fns.lpad(fns.lower(fns.hex(utils.column(hashed))), 16, "0"))


def chunk_id_col(content, doc_key):
    """``chunk_id(content, str(doc_key))`` of two columns."""
    from pyspark.sql import Column

    seq = jvm_class("org.apache.spark.api.python.PythonUtils").toSeq
    data = jvm_class("org.apache.spark.sql.functions").concat(
        seq([content._jc, doc_key._jc.cast("string")]))
    return xxh64_hex_col(Column(data.cast("binary")))
