"""Format-comparison orchestration — the reference's top-level pipelines
(de/estimate.py:41-119, CLI flows de/cli.py `synthetic`/`stats`/`param-impact`).

compare_formats_tables: cartesian product formats × groups × members —
write every member in every format, then run one chunk-pipeline estimate
per (group, format) over that group's files (cross-file dedup measured,
de/estimate.py:48-54). Writes and estimates overlap via a driver-side
thread pool submitting independent Spark jobs (the reference's
ThreadPoolExecutor, de/estimate.py:57-79 — same pattern, but each unit of
work is a distributed job instead of a local pyarrow call).

compare_formats: parameter-impact study — write a baseline + N contenders
of the same table; estimate each [baseline, contender] pair
(de/estimate.py:87-119, sweep de/cli.py:324-349).

Each member is computed once. A DataFrame member is usually a lazy,
Python-generated plan, and every format's write and sanity counts would
otherwise recompute its whole lineage. So each distinct DataFrame member
(by object identity) that is written more than once and is not already
persisted is persisted and materialized before the write fan-out, and
unpersisted once the writes are done — the reference writes every format
from one in-memory pyarrow table. Path members are read by each writer.
"""

from __future__ import annotations

from collections import Counter
from collections.abc import Iterable, Iterator
from concurrent.futures import Executor, ThreadPoolExecutor, wait
from contextlib import contextmanager
from dataclasses import asdict, dataclass
from pathlib import Path
from typing import Union

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession

from dataset_dedupe_estimator_spark.operators.chunker import ChunkerParams
from dataset_dedupe_estimator_spark.plans.estimate import estimate
from dataset_dedupe_estimator_spark.sources.formats import FileFormat, Source


@dataclass(frozen=True)
class EstimationResult:
    """Result row (de/estimate.py:13-23 field parity)."""

    format: str
    numfiles: int
    total_len: int
    chunk_bytes: int
    compressed_chunk_bytes: int
    dedup_ratio: float
    group: str = ""
    xet_bytes: int = 0
    xet_dedup_ratio: float = 0.0
    # rewrite throughput (BASELINE.md "Rewrite throughput" rows):
    # write_seconds sums each member's own write wall under the SHARED
    # thread pool, so concurrent jobs inflate one another — files/sec is
    # a per-writer LOWER BOUND, comparable across formats only within a
    # single run's fixed contender set (the reference's tqdm it/s is the
    # sequential analogue; run max_workers=1 for directly comparable
    # numbers). A member written more than once is materialized before
    # the timed writes, so its write time excludes member generation, as
    # the reference's writes from an in-memory table do; a member written
    # only once is still generated inside its write.
    write_seconds: float = 0.0
    write_files_per_s: float = 0.0


def _estimate_group(
    spark: SparkSession,
    fmt_label: str,
    group: str,
    paths: list[str],
    params: ChunkerParams,
    with_xet: bool,
) -> EstimationResult:
    res = estimate(spark, paths, params=params, with_xet=with_xet)
    return EstimationResult(
        format=fmt_label,
        numfiles=len(paths),
        total_len=res["total_len"],
        chunk_bytes=res["chunk_bytes"],
        compressed_chunk_bytes=res["compressed_chunk_bytes"],
        dedup_ratio=res["dedup_ratio"],
        group=group,
        xet_bytes=res.get("xet_bytes", 0),
        xet_dedup_ratio=res.get("xet_dedup_ratio", 0.0),
    )


def _map_all(pool: Executor, fn, items) -> list:
    """``pool.map`` that lets every call finish before it raises the first
    error, so no call still runs once the caller moves on."""
    futures = [pool.submit(fn, x) for x in items]
    wait(futures)
    return [f.result() for f in futures]


@contextmanager
def _computed_once(writes: Iterable[Source], pool: Executor) -> Iterator[None]:
    """Persist and materialize each DataFrame in ``writes`` (one entry per
    write) that is written more than once and not already persisted;
    unpersist exactly those on exit."""
    frames = [src for src in writes if isinstance(src, DataFrame)]
    n_writes = Counter(map(id, frames))
    persisted: list[DataFrame] = []
    try:
        for key, df in {id(df): df for df in frames}.items():
            if n_writes[key] > 1 and df.storageLevel == StorageLevel.NONE:
                persisted.append(df.persist())
        _map_all(pool, DataFrame.count, persisted)
        yield
    finally:
        for df in persisted:
            df.unpersist()


def compare_formats_tables(
    spark: SparkSession,
    formats: list[FileFormat],
    groups: dict[str, dict[str, Source]],
    directory: Union[str, Path],
    params: ChunkerParams = ChunkerParams(),
    with_xet: bool = False,
    max_workers: int = 4,
) -> list[EstimationResult]:
    """O1 (de/estimate.py:41-84): one EstimationResult per (group, format)."""
    directory = Path(directory)
    write_jobs = []  # (group, fmt_label, name, fmt, src)
    for fmt in formats:
        label = fmt.paramstem(fmt.name)
        for group, members in groups.items():
            for name, src in members.items():
                write_jobs.append((group, label, name, fmt, src))

    written: dict[tuple[str, str], list[str]] = {}
    write_walls: dict[tuple[str, str], float] = {}
    with ThreadPoolExecutor(max_workers=max_workers) as pool:

        def do_write(job):
            import time as _time

            group, label, name, fmt, src = job
            out_dir = directory / group / label
            t0 = _time.perf_counter()
            path = fmt.write(spark, name, src, out_dir)
            return (group, label), str(path), _time.perf_counter() - t0

        with _computed_once([job[4] for job in write_jobs], pool):
            for key, path, wall in _map_all(pool, do_write, write_jobs):
                written.setdefault(key, []).append(path)
                write_walls[key] = write_walls.get(key, 0.0) + wall

        futures = [
            pool.submit(
                _estimate_group, spark, label, group, sorted(paths), params, with_xet
            )
            for (group, label), paths in sorted(written.items())
        ]
        out = []
        for f in futures:
            r = f.result()
            wall = write_walls.get((r.group, r.format), 0.0)
            from dataclasses import replace as _replace

            out.append(
                _replace(
                    r,
                    write_seconds=round(wall, 3),
                    write_files_per_s=round(r.numfiles / wall, 2) if wall else 0.0,
                )
            )
        return out


def compare_formats(
    spark: SparkSession,
    baseline: FileFormat,
    contenders: list[FileFormat],
    table: Source,
    directory: Union[str, Path],
    params: ChunkerParams = ChunkerParams(),
    max_workers: int = 4,
) -> list[EstimationResult]:
    """O2 (de/estimate.py:87-119): estimate [baseline, contender] pairs —
    how much of the baseline file a re-encode can still dedup against."""
    directory = Path(directory)

    def run(fmt: FileFormat) -> EstimationResult:
        label = fmt.paramstem(fmt.name)
        path = str(fmt.write(spark, "contender", table, directory / label))
        res = estimate(spark, [base_path, path], params=params, with_xet=False)
        return EstimationResult(
            format=label,
            numfiles=2,
            total_len=res["total_len"],
            chunk_bytes=res["chunk_bytes"],
            compressed_chunk_bytes=res["compressed_chunk_bytes"],
            dedup_ratio=res["dedup_ratio"],
            group="param-impact",
        )

    with (
        ThreadPoolExecutor(max_workers=max_workers) as pool,
        _computed_once([table] * (1 + len(contenders)), pool),
    ):
        base_path = str(baseline.write(spark, "baseline", table, directory))
        return _map_all(pool, run, contenders)


def results_df(spark: SparkSession, results: list[EstimationResult]) -> DataFrame:
    """Results as a DataFrame for O4-O7 (sort, best-in-group, pivots)."""
    return spark.createDataFrame([asdict(r) for r in results])
