"""Deterministic synthetic-table generation + edit operators (the
reference's "DML": de/synthetic.py).

Schema language (de/cli.py:34, de/synthetic.py:107-130): a JSON dict
``{"col": "int" | "float" | "str" | "largestr" | "bool" | [elem] |
{nested...}}`` with arbitrary recursion. Value distributions mirror the
reference: int uniform [0, 1e6), float uniform rounded to 3 decimals,
str length 10-100 over ``[a-z ]``, largestr length 100-1000, bool, list
length 0-4, struct of fields.

Determinism (SURVEY §7.4 risk 2): the reference consumes a sequential
numpy RNG, which cannot be reproduced under distributed row generation.
This engine derives every value as a **pure function of (seed,
field-path, row-id, draw-index)** via a SplitMix64 mix — identical for
any partitioning, any executor count, any batch size. Same seed ⇒ same
table; different seed ⇒ different table (the reference's tested contract,
de/tests/test_synthetic.py:21-34).

Row order: DataFrames are unordered, so generated tables carry an explicit
``_pos`` double column (the Arrow table's physical position). Edit
operators transform ``_pos`` (fractional positions for splices) and
``finalize`` sorts and drops it.

Scale: generation is mapInArrow over ``spark.range`` — embarrassingly
parallel, no shuffle, no driver data; a 100 TB synthetic corpus is just a
bigger range.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator
from typing import Any

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

POS = "_pos"

_C1 = np.uint64(0x9E3779B97F4A7C15)
_C2 = np.uint64(0xD1B54A32D192ED03)


def _mix64(base: np.uint64, ids: np.ndarray, j: np.ndarray | int) -> np.ndarray:
    """SplitMix64 finalizer over (base + id·C1 + j·C2): counter-based RNG."""
    with np.errstate(over="ignore"):
        z = base + ids.astype(np.uint64) * _C1 + np.uint64(j) * _C2
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        return z ^ (z >> np.uint64(31))


def _field_seed(seed: int, path: str) -> np.uint64:
    digest = hashlib.blake2b(f"{seed}:{path}".encode(), digest_size=8).digest()
    return np.uint64(int.from_bytes(digest, "little"))


_CHARS = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz ", dtype=np.uint8)


def _gen_strings(base: np.uint64, ids: np.ndarray, lo: int, hi: int) -> pa.Array:
    lens = (_mix64(base, ids, 0) % np.uint64(hi - lo + 1)).astype(np.int64) + lo
    max_len = int(lens.max()) if len(lens) else 0
    # char matrix: char j of row i = mix(base, id_i, j+1) — batch-invariant
    jj = np.arange(1, max_len + 1, dtype=np.uint64)
    m = _mix64(base, ids[:, None], jj[None, :]) % np.uint64(len(_CHARS))
    chars = _CHARS[m.astype(np.int64)]
    out = [
        bytes(chars[i, : lens[i]]).decode("ascii") for i in range(len(ids))
    ]
    return pa.array(out, type=pa.string())


def parse_schema(schema: dict[str, Any]) -> pa.Schema:
    return pa.schema([(k, _parse_type(v)) for k, v in schema.items()])


def _parse_type(t: Any) -> pa.DataType:
    if isinstance(t, str):
        return {
            "int": pa.int64(),
            "float": pa.float64(),
            "str": pa.string(),
            "largestr": pa.string(),
            "bool": pa.bool_(),
        }[t]
    if isinstance(t, list):
        return pa.list_(_parse_type(t[0]))
    if isinstance(t, dict):
        return pa.struct([(k, _parse_type(v)) for k, v in t.items()])
    raise ValueError(f"unsupported schema node: {t!r}")


def _gen_array(dtype: Any, seed: int, path: str, ids: np.ndarray) -> pa.Array:
    base = _field_seed(seed, path)
    if dtype == "int":
        return pa.array((_mix64(base, ids, 0) % np.uint64(1_000_000)).astype(np.int64))
    if dtype == "float":
        u = (_mix64(base, ids, 0) >> np.uint64(11)).astype(np.float64) * 2.0**-53
        return pa.array(np.round(u, 3))
    if dtype == "str":
        return _gen_strings(base, ids, 10, 100)
    if dtype == "largestr":
        return _gen_strings(base, ids, 100, 1000)
    if dtype == "bool":
        return pa.array((_mix64(base, ids, 0) % np.uint64(2)).astype(bool))
    if isinstance(dtype, list):
        lens = (_mix64(base, ids, 0) % np.uint64(5)).astype(np.int64)  # 0-4 elems
        offsets = np.zeros(len(ids) + 1, dtype=np.int64)
        np.cumsum(lens, out=offsets[1:])
        # element k of row i gets a virtual id: mix of (row id, slot) so
        # values stay pure functions of position
        flat_ids = np.repeat(ids, lens) * np.int64(5) + (
            np.arange(offsets[-1], dtype=np.int64) - np.repeat(offsets[:-1], lens)
        )
        values = _gen_array(dtype[0], seed, path + "[]", flat_ids)
        return pa.ListArray.from_arrays(pa.array(offsets, type=pa.int32()), values)
    if isinstance(dtype, dict):
        arrays = [_gen_array(v, seed, f"{path}.{k}", ids) for k, v in dtype.items()]
        return pa.StructArray.from_arrays(arrays, names=list(dtype.keys()))
    raise ValueError(f"unsupported schema node: {dtype!r}")


class DataGenerator:
    """Schema-driven deterministic generator (de/synthetic.py:5-13 surface)."""

    def __init__(self, schema: dict[str, Any], seed: int = 42):
        self.schema = schema
        self.seed = seed
        self.arrow_schema = parse_schema(schema).append(pa.field(POS, pa.float64()))

    def generate_table(
        self,
        spark: SparkSession,
        n: int,
        id_offset: int = 0,
        pos_offset: float = 0.0,
        num_partitions: int | None = None,
    ) -> DataFrame:
        """n rows; ``id_offset`` selects a disjoint id stream (fresh rows for
        edits); ``_pos`` runs from pos_offset."""
        schema, seed, arrow_schema = self.schema, self.seed, self.arrow_schema

        def gen(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
            for batch in batches:
                ids = batch.column("id").to_numpy() + id_offset
                arrays = [
                    _gen_array(v, seed, k, ids) for k, v in schema.items()
                ]
                arrays.append(pa.array((ids - id_offset).astype(np.float64) + pos_offset))
                yield pa.RecordBatch.from_arrays(arrays, schema=arrow_schema)

        rng = spark.range(n, numPartitions=num_partitions)
        ddl_schema = ", ".join(
            f"`{f.name}` {_spark_ddl(f.type)}" for f in self.arrow_schema
        )
        return rng.mapInArrow(gen, ddl_schema)

    # -- edit operators (reference de/synthetic.py:15-50) -------------------
    # Each public operator counts its input frame once; the private
    # ``_``-prefixed forms take that row count ``n`` instead, so a caller
    # that already knows it (generate_synthetic_tables) launches no job.

    def delete_rows(
        self, df: DataFrame, edit_points: list[float], edit_size: int = 10
    ) -> DataFrame:
        """Remove ``edit_size`` rows just before each relative edit point."""
        return self._delete_rows(df, df.count(), edit_points, edit_size)

    def _delete_rows(
        self, df: DataFrame, n: int, edit_points: list[float], edit_size: int
    ) -> DataFrame:
        cond = None
        for p in edit_points:
            point = int(n * p)
            c = (F.col(POS) >= point - edit_size) & (F.col(POS) < point)
            cond = c if cond is None else (cond | c)
        return df.filter(~cond) if cond is not None else df

    def insert_rows(
        self, df: DataFrame, spark: SparkSession, edit_points: list[float], edit_size: int = 10
    ) -> DataFrame:
        """Splice ``edit_size`` fresh rows at each edit point (fractional
        ``_pos`` places them between existing rows)."""
        return self._insert_rows(df, df.count(), spark, edit_points, edit_size)

    def _insert_rows(
        self,
        df: DataFrame,
        n: int,
        spark: SparkSession,
        edit_points: list[float],
        edit_size: int,
    ) -> DataFrame:
        out = df
        for i, p in enumerate(edit_points):
            point = int(n * p)
            # fresh rows at fractional positions in (point-1, point): the
            # block lands immediately before the row at position `point`
            fresh = self.generate_table(
                spark, edit_size, id_offset=10_000_000 * (i + 1)
            ).withColumn(
                POS, (F.col(POS) + 1) / (edit_size + 1) + F.lit(float(point - 1))
            )
            out = out.unionByName(fresh)
        return out

    def append_rows(self, df: DataFrame, spark: SparkSession, ratio: float) -> DataFrame:
        return self._append_rows(df, df.count(), spark, ratio)

    def _append_rows(
        self, df: DataFrame, n: int, spark: SparkSession, ratio: float
    ) -> DataFrame:
        extra = self.generate_table(
            spark, int(ratio * n), id_offset=90_000_000, pos_offset=float(n)
        )
        return df.unionByName(extra)

    def update_rows(
        self, df: DataFrame, spark: SparkSession, edit_points: list[float], edit_size: int = 10
    ) -> DataFrame:
        """Replace the single row at each edit point with a fresh row.

        The reference generates edit_size rows per point but uses only row
        (i+1)·edit_size-1 (de/synthetic.py:47) — replicated via the draw
        index within the fresh id stream.
        """
        return self._update_rows(df, df.count(), spark, edit_points, edit_size)

    def _update_rows(
        self,
        df: DataFrame,
        n: int,
        spark: SparkSession,
        edit_points: list[float],
        edit_size: int,
    ) -> DataFrame:
        points = [int(n * p) for p in edit_points]
        out = df.filter(~F.col(POS).isin([float(pt) for pt in points]))
        for i, point in enumerate(points):
            fresh = self.generate_table(
                spark,
                edit_size * len(edit_points),
                id_offset=70_000_000,
                pos_offset=0.0,
            ).filter(F.col(POS) == float((i + 1) * edit_size - 1))
            out = out.unionByName(fresh.withColumn(POS, F.lit(float(point))))
        return out

    def update_column(self, df: DataFrame, updated: DataFrame, column: str) -> DataFrame:
        """G6: swap a single column from the updated variant, joined on
        physical position (de/synthetic.py:76-83 set_column)."""
        right = updated.select(F.col(POS), F.col(column).alias("__new"))
        return df.join(right, POS).select(
            *[F.col("__new").alias(c) if c == column else F.col(c) for c in df.columns]
        )

    def generate_synthetic_tables(
        self,
        spark: SparkSession,
        size: int,
        edit_points: list[float],
        append_ratio: float = 0.05,
        update_columns: list[str] | None = None,
        edit_size: int = 10,
    ) -> dict[str, DataFrame]:
        """G7 bundle (de/synthetic.py:52-84): original + edited variants.

        Lazy and job-free: ``original`` has exactly ``size`` rows, so every
        edit point derives from ``size`` instead of a count of it."""
        original = self.generate_table(spark, size)
        updated = self._update_rows(original, size, spark, edit_points, edit_size)
        out = {
            "original": original,
            "deleted": self._delete_rows(original, size, edit_points, edit_size),
            "inserted": self._insert_rows(original, size, spark, edit_points, edit_size),
            "appended": self._append_rows(original, size, spark, append_ratio),
            "updated": updated,
        }
        for col in update_columns or []:
            out[f"updated_{col}"] = self.update_column(original, updated, col)
        return out


def finalize(df: DataFrame) -> DataFrame:
    """Materialization order: sort by physical position, drop the carrier."""
    return df.orderBy(POS).drop(POS)


def _spark_ddl(t: pa.DataType) -> str:
    if pa.types.is_int64(t):
        return "bigint"
    if pa.types.is_float64(t):
        return "double"
    if pa.types.is_string(t):
        return "string"
    if pa.types.is_boolean(t):
        return "boolean"
    if pa.types.is_list(t):
        return f"array<{_spark_ddl(t.value_type)}>"
    if pa.types.is_struct(t):
        inner = ", ".join(f"`{f.name}`: {_spark_ddl(f.type)}" for f in t)
        return f"struct<{inner}>"
    raise ValueError(f"unsupported arrow type {t}")
