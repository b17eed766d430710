"""Official xxHash64 test vectors (xxHash spec, seed 0)."""

import random

from pyspark.sql import functions as F

from ragflow_spark.extractlib.xxh64 import (chunk_id, chunk_id_col,
                                            xxh64_hex_col, xxh64_hexdigest)


def test_official_vectors():
    assert xxh64_hexdigest(b"") == "ef46db3751d8e999"
    assert xxh64_hexdigest(b"a") == "d24ec4f1a98c6e5b"
    assert xxh64_hexdigest(b"abc") == "44bc2cf5ad770999"
    assert xxh64_hexdigest(b"as") == "1c330fb2d66be179"
    assert (xxh64_hexdigest(b"Call me Ishmael. Some years ago--never mind "
                            b"how long precisely-")
            == "02a2e85470d6fd96")


def test_long_inputs_cover_all_tail_paths():
    for n in range(0, 70):
        a = xxh64_hexdigest(b"x" * n)
        b = xxh64_hexdigest(b"x" * n)
        assert a == b and len(a) == 16


def test_chunk_id_matches_reference_formula():
    # task_executor.py:266: xxh64(content + doc_key) over utf-8 bytes
    cid = chunk_id("chunk text", "https://host0.example.com/doc/1")
    assert cid == xxh64_hexdigest(
        "chunk texthttps://host0.example.com/doc/1".encode()
    )


# The Spark twins: xxh64_hex_col and chunk_id_col must give the Python
# function's digest on every input.

VECTORS = {
    b"": "ef46db3751d8e999",
    b"a": "d24ec4f1a98c6e5b",
    b"abc": "44bc2cf5ad770999",
    b"as": "1c330fb2d66be179",
    b"Call me Ishmael. Some years ago--never mind how long precisely-":
        "02a2e85470d6fd96",
}


def _hex_col(spark, values: list[bytes]) -> list[str]:
    df = spark.createDataFrame([(i, bytearray(v)) for i, v in
                                enumerate(values)], "i int, data binary")
    rows = df.select("i", xxh64_hex_col(F.col("data")).alias("h")).collect()
    return [r.h for r in sorted(rows, key=lambda r: r.i)]


def test_hex_col_official_vectors(spark):
    assert _hex_col(spark, list(VECTORS)) == list(VECTORS.values())


def test_hex_col_every_tail_path(spark):
    # 0..69 bytes: below and above the 32-byte stripe, every 8/4/1 tail
    values = [bytes(range(n)) for n in range(70)]
    assert _hex_col(spark, values) == [xxh64_hexdigest(v) for v in values]


def _random_text(rng, n: int) -> str:
    # ASCII, accents, combining marks, CJK, astral emoji and newlines
    pools = ("abcXYZ 09-_.", "éüñçÅ", "\u0301\u0308\u20dd", "中文字符",
             "\U0001F600\U0001F680\U00010348", "\n\t")
    return "".join(rng.choice(rng.choice(pools)) for _ in range(n))


def test_hex_col_matches_python_on_random_strings(spark):
    rng = random.Random(20261020)
    texts = [_random_text(rng, rng.randrange(0, 90)) for _ in range(3000)]
    values = [t.encode("utf-8") for t in texts]
    assert _hex_col(spark, values) == [xxh64_hexdigest(v) for v in values]


def test_chunk_id_col_with_long_key(spark):
    rng = random.Random(7)
    rows = [(i, _random_text(rng, rng.randrange(0, 60)),
             rng.choice([0, -1, 11, 2 ** 63 - 1, -2 ** 63,
                         rng.randrange(-10 ** 12, 10 ** 12)]))
            for i in range(500)]
    df = spark.createDataFrame(rows, "i int, text string, key long")
    got = df.select("i", "text", "key", chunk_id_col(
        F.col("text"), F.col("key")).alias("cid")).collect()
    assert len(got) == len(rows)
    for r in got:
        assert r.cid == chunk_id(r.text, str(r.key))
