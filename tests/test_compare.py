"""Mirrors de/tests/test_estimate.py + test_cli.py: record per
(format, group), field presence, output paths, numfiles, ratio in (0,1],
identical-members group ⇒ ratio ≈ 1/numfiles; display helpers."""

from dataclasses import dataclass, field

import pytest
from pyspark import StorageLevel
from pyspark.sql import functions as F

from dataset_dedupe_estimator_spark.operators.synthetic import DataGenerator, finalize
from dataset_dedupe_estimator_spark.plans.compare import (
    compare_formats,
    compare_formats_tables,
    results_df,
)
from dataset_dedupe_estimator_spark.plans.display import (
    markdown_report,
    pivot_by_format,
    ratio_bucket,
    sorted_results,
    with_best_in_group,
)
from dataset_dedupe_estimator_spark.sources.formats import JsonLinesFormat, ParquetFormat

FORMATS = [ParquetFormat(compression="snappy"), ParquetFormat(compression="zstd")]


@pytest.fixture(scope="module")
def variant_groups(spark):
    gen = DataGenerator({"a": "int", "b": "str"}, seed=42)
    tables = gen.generate_synthetic_tables(spark, 2000, [0.5], edit_size=10)
    original = finalize(tables["original"]).cache()
    return {
        "edit-deleted": {"original": original, "variant": finalize(tables["deleted"])},
        "identical": {"original": original, "copy": original},
    }


def test_compare_formats_tables(spark, variant_groups, tmp_path):
    results = compare_formats_tables(spark, FORMATS, variant_groups, tmp_path)
    assert len(results) == len(FORMATS) * len(variant_groups)
    for r in results:
        assert r.numfiles == 2
        assert 0 < r.dedup_ratio <= 1.0
        assert r.chunk_bytes <= r.total_len
        assert r.format.startswith("parquet-c=")
    # identical members dedup fully: ratio ≈ 1/2
    ident = [r for r in results if r.group == "identical"]
    for r in ident:
        assert r.dedup_ratio == pytest.approx(0.5, abs=0.01)
    # expected output layout: <dir>/<group>/<format-label>/<member>...parquet
    out = list(tmp_path.glob("identical/parquet-c=snappy/*.parquet"))
    assert len(out) == 2


def test_compare_formats_param_impact(spark, variant_groups, tmp_path):
    table = variant_groups["identical"]["original"]
    contenders = [
        ParquetFormat(compression="zstd"),
        ParquetFormat(compression="none"),
        JsonLinesFormat(),
    ]
    results = compare_formats(
        spark, ParquetFormat(), contenders, table, tmp_path / "pi"
    )
    assert table.storageLevel != StorageLevel.NONE  # the caller's cache stays
    assert len(results) == 3
    for r in results:
        assert r.numfiles == 2
        assert 0 < r.dedup_ratio <= 1.0
        assert r.group == "param-impact"


def test_display_helpers(spark, variant_groups, tmp_path):
    results = compare_formats_tables(spark, FORMATS, variant_groups, tmp_path / "d")
    df = results_df(spark, results)
    assert sorted_results(df).count() == len(results)
    flagged = with_best_in_group(df)
    assert flagged.filter(F.col("is_best")).count() >= df.select("group").distinct().count()
    bucketed = ratio_bucket(df)
    assert set(bucketed.select("ratio_class").distinct().toPandas()["ratio_class"]) <= {
        "good",
        "ok",
        "bad",
    }
    grid = pivot_by_format(df).toPandas()
    assert "edit-deleted" in grid.columns and "identical" in grid.columns
    report = markdown_report(spark, df)
    assert "### identical" in report and "**" in report


@dataclass(frozen=True)
class _LevelProbe(JsonLinesFormat):
    """JSONL writer that records each member's storage level as it writes."""

    name: str = "probe"
    seen: list = field(default_factory=list, compare=False, hash=False)

    def write(self, spark, stem, src, directory):
        self.seen.append((stem, src.storageLevel))
        return super().write(spark, stem, src, directory)


@dataclass(frozen=True)
class _FailingFormat(ParquetFormat):
    """A writer that is not available, as CdcParquetFormat on a pyarrow
    without content-defined chunking."""

    name: str = "failing"

    def write(self, spark, stem, src, directory):
        raise NotImplementedError("writer unavailable")


def _members(spark):
    gen = DataGenerator({"a": "int", "b": "str", "t": ["str"]}, seed=5)
    tables = gen.generate_synthetic_tables(spark, 600, [0.5], edit_size=10)
    shared = finalize(tables["original"])
    deleted = finalize(tables["deleted"])
    cached = finalize(tables["appended"]).cache()
    groups = {
        "g1": {"original": shared, "deleted": deleted},
        "g2": {"original": shared, "appended": cached},
    }
    return shared, deleted, cached, groups


def test_compare_writes_match_direct_writes_and_clean_up(spark, tmp_path):
    """Each DataFrame member is persisted once for the fan-out: every file
    is byte-identical to a direct write of the member, the members the
    call persisted are unpersisted, and the caller's cache is kept."""
    shared, deleted, cached, groups = _members(spark)
    probe = _LevelProbe()
    formats = [ParquetFormat(compression="zstd"), probe]
    results = compare_formats_tables(spark, formats, groups, tmp_path / "cmp")
    assert len(results) == len(formats) * len(groups)
    assert probe.seen and all(level != StorageLevel.NONE for _, level in probe.seen)
    assert shared.storageLevel == StorageLevel.NONE
    assert deleted.storageLevel == StorageLevel.NONE
    assert cached.storageLevel != StorageLevel.NONE

    written = sorted(p for p in (tmp_path / "cmp").rglob("*") if p.is_file())
    assert len(written) == len(formats) * 4
    for group, members in groups.items():
        for fmt in formats:
            label = fmt.paramstem(fmt.name)
            for name, member in members.items():
                direct = fmt.write(spark, name, member, tmp_path / "direct" / group / label)
                got = tmp_path / "cmp" / direct.relative_to(tmp_path / "direct")
                assert got.read_bytes() == direct.read_bytes(), got
    cached.unpersist()


def test_compare_unpersists_when_a_write_raises(spark, tmp_path):
    shared, deleted, cached, groups = _members(spark)
    formats = [ParquetFormat(compression="zstd"), _FailingFormat()]
    with pytest.raises(NotImplementedError):
        compare_formats_tables(spark, formats, groups, tmp_path)
    assert shared.storageLevel == StorageLevel.NONE
    assert deleted.storageLevel == StorageLevel.NONE
    assert cached.storageLevel != StorageLevel.NONE
    table = finalize(DataGenerator({"a": "int"}, seed=1).generate_table(spark, 50))
    with pytest.raises(NotImplementedError):
        compare_formats(spark, ParquetFormat(), [_FailingFormat()], table, tmp_path / "pi")
    assert table.storageLevel == StorageLevel.NONE
    cached.unpersist()
