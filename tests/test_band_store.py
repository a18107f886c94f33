"""The shared band-store engine behind the MinHash and SRP stores."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.conf import RuntimeConfig

from trisk_spark.functions import dedup_store as D
from trisk_spark.functions import semantic_store as S

_KEY = "spark.sql.sources.partitionOverwriteMode"


def _vec(i: int):
    v = [0.001 * ((i + k) % 5) for k in range(64)]
    v[i % 64] = 0.8
    return [float(x) for x in v]


def test_append_never_sets_the_session_overwrite_mode(spark, tmp_path, monkeypatch):
    """Appends rewrite touched buckets under a per-write dynamic
    partition overwrite; they must never flip the shared session conf,
    which other driver threads and streams plan against. The conf
    setter raises on that key, and an append to a store of each kernel
    still lands (append ≡ rebuild, so untouched buckets survive)."""
    before = spark.conf.get(_KEY)
    real_set = RuntimeConfig.set

    def guarded(self, key, value):
        if key == _KEY:
            raise AssertionError(f"library code set {key}={value}")
        return real_set(self, key, value)

    monkeypatch.setattr(RuntimeConfig, "set", guarded)

    docs = spark.createDataFrame(
        [(i, f"document body {i} with words w{i} x{i} y{i % 3}") for i in range(30)],
        "doc_id long, text string",
    )
    emb = spark.createDataFrame(
        [(i, _vec(i)) for i in range(30)], "vec_id long, embedding array<double>"
    )
    cases = [
        (D.write_dedup_store, D.append_dedup_store, docs, "doc_id", "signatures"),
        (S.write_semantic_store, S.append_semantic_store, emb, "vec_id", "vectors"),
    ]
    for write, append, frame, id_col, rows in cases:
        live, ref = str(tmp_path / f"{rows}_live"), str(tmp_path / f"{rows}_ref")
        write(spark, frame.where(F.col(id_col) < 20), live)
        append(spark, frame.where(F.col(id_col) >= 20), live)
        write(spark, frame, ref)
        for t in ("bands", rows):
            got = sorted(map(tuple, spark.read.parquet(f"{live}/{t}").collect()))
            want = sorted(map(tuple, spark.read.parquet(f"{ref}/{t}").collect()))
            assert got == want, f"{rows} store: {t} differs from a rebuild"
    assert spark.conf.get(_KEY) == before
