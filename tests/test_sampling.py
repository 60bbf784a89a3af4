"""Deterministic hash sampling/splits (functions/sampling.py)."""

from pyspark.sql import functions as F

from apollo_service_spark.functions import sampling


def _docs(spark, n=400):
    return spark.range(n).select(F.col("id").alias("doc_id"))


def _labels(df, salt=""):
    return {
        r["doc_id"]: r["s"]
        for r in df.select(
            "doc_id", sampling.split_label("doc_id", salt=salt).alias("s")
        ).collect()
    }


def test_partition_independent(spark):
    """The whole point: the split is IDENTICAL regardless of layout —
    df.sample() fails this."""
    df = _docs(spark)
    a = _labels(df)
    b = _labels(df.repartition(13, "doc_id"))
    c = _labels(df.coalesce(1))
    assert a == b == c
    assert len(a) == 400
    assert 0.8 < sum(s == "train" for s in a.values()) / 400 < 1.0


def test_salt_changes_split_labels(spark):
    df = _docs(spark)
    assert _labels(df, salt="x") != _labels(df, salt="y")  # new experiment


def test_split_labels_partition_and_sum(spark):
    df = _docs(spark, 1000)
    rows = df.select(
        "doc_id",
        sampling.split_label("doc_id", {"train": 0.8, "valid": 0.1, "test": 0.1}).alias("s"),
    ).collect()
    counts = {}
    for r in rows:
        counts[r["s"]] = counts.get(r["s"], 0) + 1
    assert sum(counts.values()) == 1000  # total partition, no row lost
    assert set(counts) == {"train", "valid", "test"}
    assert counts["train"] > 700  # ~800 expected


def test_matches_duckdb_arithmetic(spark):
    """The md5-prefix bucket must be the same integer DuckDB computes —
    the oracle-gate contract at the unit level."""
    import duckdb

    df = _docs(spark, 50).select(
        "doc_id", sampling.hash_bucket("doc_id", 10_000, salt="z").alias("b")
    )
    got = {(r["doc_id"], r["b"]) for r in df.collect()}
    con = duckdb.connect()
    want = set(
        con.execute(
            "SELECT i, CAST(('0x' || substr(md5(CAST(i AS VARCHAR) || 'z'), 1, 6)) AS BIGINT) % 10000"
            " FROM range(50) t(i)"
        ).fetchall()
    )
    con.close()
    assert got == want


def test_null_keys_hash_deterministically(spark):
    """NULL keys bucket like any value instead of falling through CASE
    chains into the last split label (review finding r4)."""
    df = spark.createDataFrame([(None,), (1,), (2,)], "doc_id long")
    rows = df.select(
        "doc_id",
        sampling.hash_bucket("doc_id").alias("b"),
        sampling.split_label("doc_id").alias("s"),
    ).collect()
    by_key = {r["doc_id"]: r for r in rows}
    assert by_key[None]["b"] is not None
    # the sentinel '<NULL>' hashes into train at the default weights — the
    # point is it gets a REAL assignment, not the fall-through label
    assert by_key[None]["s"] in ("train", "valid", "test")


def test_oversubscribed_weights_raise(spark):
    import pytest as _pytest

    with _pytest.raises(ValueError, match="sum"):
        sampling.split_label("doc_id", {"a": 0.9, "b": 0.2, "c": 0.1})


def test_split_label_single_entry_fractional_raises():
    """ADVICE r4: {'sample': 0.01} would assign ALL rows to 'sample' (the
    remainder-to-last rule degenerates); that must be a loud error, not a
    silently ignored weight. A single label with weight 1.0 stays legal."""
    import pytest

    from apollo_service_spark.functions import sampling

    with pytest.raises(ValueError, match="single label"):
        sampling.split_label("doc_id", {"sample": 0.01})
    sampling.split_label("doc_id", {"all": 1.0})  # no raise
