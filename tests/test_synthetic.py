"""Mirrors de/tests/test_synthetic.py: determinism under fixed seed,
per-dtype generation incl. list & struct, row-count invariants of
delete/insert/append/update, schema preservation, updated-column variants."""

import pytest
from pyspark.sql import functions as F

from dataset_dedupe_estimator_spark.operators.synthetic import (
    POS,
    DataGenerator,
    finalize,
)

SCHEMA = {"a": "int", "b": "str"}
NESTED = {
    "i": "int",
    "f": "float",
    "s": "str",
    "ls": "largestr",
    "flag": "bool",
    "lst": ["int"],
    "st": {"x": "int", "y": "str"},
    "lst_st": [{"k": "int"}],
}
EDIT_POINTS = [0.25, 0.5, 0.75]
N = 100


@pytest.fixture(scope="module")
def gen():
    return DataGenerator(SCHEMA, seed=42)


def test_determinism_same_seed(spark, gen):
    t1 = finalize(gen.generate_table(spark, N)).collect()
    t2 = finalize(DataGenerator(SCHEMA, seed=42).generate_table(spark, N)).collect()
    assert t1 == t2


def test_determinism_partition_invariant(spark, gen):
    t1 = finalize(gen.generate_table(spark, N, num_partitions=1)).collect()
    t8 = finalize(gen.generate_table(spark, N, num_partitions=8)).collect()
    assert t1 == t8


def test_different_seed_differs(spark, gen):
    t1 = finalize(gen.generate_table(spark, N)).collect()
    t2 = finalize(DataGenerator(SCHEMA, seed=43).generate_table(spark, N)).collect()
    assert t1 != t2


def test_dtype_generation(spark):
    g = DataGenerator(NESTED, seed=7)
    rows = finalize(g.generate_table(spark, 50)).collect()
    assert len(rows) == 50
    r = rows[0]
    assert 0 <= r.i < 1_000_000
    assert 0.0 <= r.f <= 1.0
    assert round(r.f, 3) == r.f
    assert 10 <= len(r.s) <= 100
    assert 100 <= len(r.ls) <= 1000
    assert isinstance(r.flag, bool)
    assert 0 <= len(r.lst) <= 4
    assert r.st.x is not None and isinstance(r.st.y, str)
    for e in r.lst_st:
        assert e.k is not None
    # value ranges over whole column
    lens = [len(x.s) for x in rows]
    assert min(lens) >= 10 and max(lens) <= 100


def test_string_charset(spark, gen):
    rows = finalize(gen.generate_table(spark, N)).collect()
    allowed = set("abcdefghijklmnopqrstuvwxyz ")
    for r in rows:
        assert set(r.b) <= allowed


def test_edit_invariants(spark, gen):
    """Reference invariants (de/synthetic.py:65-68)."""
    tables = gen.generate_synthetic_tables(
        spark, N, EDIT_POINTS, append_ratio=0.05, update_columns=["a"], edit_size=10
    )
    e, k = len(EDIT_POINTS), 10
    assert tables["original"].count() == N
    assert tables["deleted"].count() == N - e * k
    assert tables["inserted"].count() == N + e * k
    assert tables["appended"].count() == N + int(0.05 * N)
    assert tables["updated"].count() == N
    assert tables["updated_a"].count() == N
    # schema preserved across all variants
    base = finalize(tables["original"]).schema
    for name, df in tables.items():
        assert finalize(df).schema == base, name


def test_update_rows_changes_exactly_points(spark, gen):
    original = gen.generate_table(spark, N)
    updated = gen.update_rows(original, spark, EDIT_POINTS, edit_size=10)
    o = {r[POS]: (r.a, r.b) for r in original.collect()}
    u = {r[POS]: (r.a, r.b) for r in updated.collect()}
    assert set(o) == set(u)
    changed = [p for p in o if o[p] != u[p]]
    assert sorted(changed) == [float(int(N * p)) for p in EDIT_POINTS]


def test_update_column_only_that_column(spark, gen):
    original = gen.generate_table(spark, N)
    updated = gen.update_rows(original, spark, EDIT_POINTS, edit_size=10)
    swapped = gen.update_column(original, updated, "a")
    o = {r[POS]: r for r in original.collect()}
    s = {r[POS]: r for r in swapped.collect()}
    u = {r[POS]: r for r in updated.collect()}
    for p in o:
        assert s[p].b == o[p].b  # untouched column identical
        assert s[p].a == u[p].a  # swapped column follows the update


def test_insert_positions(spark, gen):
    original = gen.generate_table(spark, N)
    inserted = finalize(gen.insert_rows(original, spark, [0.5], edit_size=3))
    rows = inserted.collect()
    orig_rows = finalize(original).collect()
    point = N // 2
    # prefix and suffix unchanged; 3 fresh rows spliced at `point`
    assert rows[:point] == orig_rows[:point]
    assert rows[point + 3 :] == orig_rows[point:]


def test_generate_synthetic_tables_runs_no_jobs(spark, gen):
    """The bundle is lazy: every edit point derives from ``size``, so
    building it launches no Spark job (no count of ``original``). A
    sentinel job in the same group proves the tracker has caught up:
    listener events arrive in order, so once the sentinel shows, any
    earlier job of the group shows too."""
    import time

    sc = spark.sparkContext
    group = "test-generate-synthetic-tables-no-jobs"
    prev = sc.getLocalProperty("spark.jobGroup.id")
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        gen.generate_synthetic_tables(
            spark, N, EDIT_POINTS, append_ratio=0.05, update_columns=["a"], edit_size=10
        )
        sc.parallelize([0], 1).count()  # the sentinel: one RDD job
    finally:
        sc.setLocalProperty("spark.jobGroup.id", prev)
    deadline = time.monotonic() + 30
    while not sc.statusTracker().getJobIdsForGroup(group) and time.monotonic() < deadline:
        time.sleep(0.05)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1


def test_public_edit_operators_count_their_input(spark, gen):
    """The public operators still derive edit points from the frame they
    are given, whatever its size."""
    original = gen.generate_table(spark, N)
    half = original.filter(F.col(POS) < N // 2)
    n = N // 2
    e, k = len(EDIT_POINTS), 5
    assert gen.delete_rows(half, EDIT_POINTS, k).count() == n - e * k
    assert gen.insert_rows(half, spark, EDIT_POINTS, k).count() == n + e * k
    assert gen.append_rows(half, spark, 0.1).count() == n + int(0.1 * n)
    updated = gen.update_rows(half, spark, EDIT_POINTS, k)
    assert sorted(r[POS] for r in updated.collect()) == [float(i) for i in range(n)]
    changed = {r[POS] for r in updated.subtract(half).collect()}
    assert changed == {float(int(n * p)) for p in EDIT_POINTS}
