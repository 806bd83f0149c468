"""The four workloads. Each makes its inputs from the seed with the
benchmark's own numpy/pyarrow code (``synthetic_formats`` hands the seed to
the package's generator, because there the seed is the user input), builds
its initial state, runs one op per ``run_op`` call and checks every output
against a model the benchmark keeps itself.

Why these four, and which layer each loads and bypasses, is in README.md.
"""

from __future__ import annotations

import gzip
import hashlib
import shutil
import time
import zlib
from dataclasses import replace
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from harness import median

_LETTERS = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz", dtype=np.uint8)


def _spans(att, name, within=None):
    """Spans called ``name``, optionally only those under the ``within`` spans."""
    ids = None if within is None else {i for s in within for i in att.subtree(s.sid)}
    return [s for s in att.spans if s.name == name and (ids is None or s.sid in ids)]


def _walls(spans):
    return median([s.wall for s in spans])


def _words(rng, n, lo=3, hi=9):
    lens = rng.integers(lo, hi, n)
    chars = _LETTERS[rng.integers(0, 26, int(lens.sum()))].tobytes().decode()
    out, pos = [], 0
    for k in lens:
        out.append(chars[pos : pos + k])
        pos += k
    return out


class Workload:
    name = ""
    min_ops = 1  # ops every run times; count metrics come from these
    WARMUP_OPS = 0  # ops run and checked before timing starts
    items_unit = ""
    RATE_NAME = ""  # the workload's throughput under its own name
    RATE_TIME_KEY = None  # op info key timing the rate, None for the op wall
    SUB_TIMINGS: tuple = ()  # (op info key, report label, unit)
    PYTHON_WORKERS = True  # whether the ops run Python workers, for the warm-up

    def __init__(self, seed: int, work: Path, nproc: int, tracer):
        self.seed = seed
        self.work = work
        self.nproc = nproc
        self.tracer = tracer
        self.rng = np.random.default_rng(seed)
        self.spark = None

    def make_inputs(self) -> None:
        """Benchmark-side input generation; not part of set-up time."""

    def build(self, rep: int) -> None:
        """The initial index or table build. Set-up runs it several times;
        the last build is the one the timed phase uses."""

    def exhausted(self, i: int) -> bool:
        return False

    def run_op(self, i: int, ledger) -> None:
        raise NotImplementedError

    def final_check(self) -> str | None:
        return None

    def props(self) -> dict:
        return {}

    def patch(self) -> None:
        """Wrap package functions called from inside other package
        functions, so a traced run sees them as spans."""

    def trace_extra(self) -> None:
        """Traced-run-only measurements made after the timed phase."""

    def layers(self, att, ops) -> tuple[dict, dict]:
        """(per-layer metrics, count metrics) of a traced run, from the
        attribution ``att`` and the timed phase's op spans ``ops``."""
        return {}, {}

    def _chunker(self, att, calls) -> dict:
        """Chunker-stage figures of ``plans.estimate.estimate`` calls: the
        Python-worker stages of each call are the chunker's mapInArrow."""
        py = [att.counters(s.sid, python=True) for s in calls]
        if not py:
            return {}
        return {
            "chunker.tasks": py[0]["tasks"],
            "chunker.stage_run_ms": median([c["executor_run_ms"] for c in py]),
            "chunker.py_gap_ms": median([c["py_gap_ms"] for c in py]),
            "chunker.py_worker_start_ms": median([c["py_worker_start_ms"] for c in py]),
            "chunker.sched_wait_ms": median([c["sched_wait_ms"] for c in py]),
            "chunker.stage_wall_ms": median([c["stage_wall_ms"] for c in py]),
        }


# ------------------------------------------------------------------------
class RevisionsEstimate(Workload):
    """``plans.estimate.estimate()`` over a Parquet revision history."""

    name = "revisions_estimate"
    items_unit = "MB"
    RATE_NAME = "estimate_mb_s"
    N_REV = 64
    ROWS = 14_000
    EDIT = 0.004  # share of rows each of update, delete and insert touches

    def make_inputs(self):
        rng = self.rng
        d = self.work / "revisions"
        d.mkdir(parents=True)
        vocab = np.array(_words(rng, 4000), dtype=object)
        next_id = 0

        def fresh(n):
            nonlocal next_id
            ids = np.arange(next_id, next_id + n, dtype=np.int64)
            next_id += n
            text = [" ".join(vocab[rng.integers(0, len(vocab), 8)]) for _ in range(n)]
            return {
                "id": ids,
                "user": rng.integers(0, 50_000, n),
                "score": np.round(rng.random(n), 4),
                "text": np.array(text, dtype=object),
                "flag": rng.random(n) < 0.5,
            }

        cols = fresh(self.ROWS)
        self.paths = []
        changed = []
        for r in range(self.N_REV):
            if r:  # a revision: one contiguous block each updated, deleted, inserted; an append
                n = len(cols["id"])
                k = max(1, int(n * self.EDIT))
                at = int(rng.integers(0, n - k))
                new = fresh(k)
                for c in ("user", "score", "text"):
                    cols[c][at : at + k] = new[c]
                at = int(rng.integers(0, n - k))
                cols = {c: np.delete(v, slice(at, at + k)) for c, v in cols.items()}
                at = int(rng.integers(0, n - k))
                ins = fresh(k)
                cols = {c: np.insert(cols[c], at, ins[c]) for c in cols}
                app = fresh(2 * k)
                cols = {c: np.concatenate([cols[c], app[c]]) for c in cols}
                changed.append(5 * k / n)
            path = d / f"rev-{r:03d}.parquet"
            # plain encoding and 64 KiB pages keep an edit's effect local,
            # so revisions share most of their chunks
            pq.write_table(
                pa.table({c: pa.array(v) for c, v in cols.items()}),
                path, compression="snappy", data_page_size=64 * 1024, use_dictionary=False,
            )
            self.paths.append(str(path))
        self.bytes = sum(Path(p).stat().st_size for p in self.paths)
        self.edit_fraction = float(np.mean(changed))
        self.dedup_ratio = None

    def _expected(self):
        """Driver-side recompute of unique chunks and bytes for both
        parameterizations with ``file_chunk_arrays`` and a set union."""
        from dataset_dedupe_estimator_spark.operators.chunker import (
            XET_PARAMS,
            file_chunk_arrays,
        )
        from dataset_dedupe_estimator_spark.plans.estimate import ESTIMATE_PARAMS

        out = {}
        t0 = time.perf_counter()
        for label, params in (
            ("main", ESTIMATE_PARAMS),
            ("xet", replace(XET_PARAMS, compress_probe_bytes=0)),
        ):
            seen: dict[int, int] = {}
            total = chunks = 0
            for p in self.paths:
                _, sizes, hashes, _ = file_chunk_arrays(p, params)
                total += int(sizes.sum())
                chunks += len(sizes)
                for h, s in zip(hashes.tolist(), sizes.tolist()):
                    seen.setdefault(h, s)
            out[label] = {
                "total_len": total, "total_chunks": chunks,
                "unique_chunks": len(seen), "chunk_bytes": sum(seen.values()),
            }
        self.kernel_s = time.perf_counter() - t0
        return out

    def build(self, rep):
        from dataset_dedupe_estimator_spark.plans.estimate import estimate

        estimate(self.spark, self.paths[:4])

    def run_op(self, i, ledger):
        from dataset_dedupe_estimator_spark.plans.estimate import estimate

        if i == 0:
            self.expected = self._expected()
        exp = self.expected

        def check(res):
            want = {
                "total_len": self.bytes,
                "unique_chunks": exp["main"]["unique_chunks"],
                "chunk_bytes": exp["main"]["chunk_bytes"],
                "total_chunks": exp["main"]["total_chunks"],
                "xet_bytes": exp["xet"]["chunk_bytes"],
            }
            bad = {k: (res.get(k), v) for k, v in want.items() if res.get(k) != v}
            if exp["main"]["total_len"] != self.bytes:
                bad["recompute_total_len"] = (exp["main"]["total_len"], self.bytes)
            self.dedup_ratio = res.get("dedup_ratio")
            return f"estimate mismatch (got, want): {bad}" if bad else None

        ledger.run(
            "estimate", lambda: estimate(self.spark, self.paths), check,
            info={"items": self.bytes / 1e6},
        )

    def layers(self, att, ops):
        al = [att.counters(s.sid) for s in ops]
        jvm = [att.counters(s.sid, python=False) for s in ops]
        out = self._chunker(att, ops)
        out["chunker.kernel_s"] = self.kernel_s
        stage_s = out.get("chunker.stage_wall_ms", 0) / 1e3
        out["chunker.kernel_share"] = self.kernel_s / (stage_s * self.nproc) if stage_s else 0.0
        out.update({
            "estimate.call_s": _walls(ops),
            "estimate.jobs": al[0]["jobs"],
            "estimate.stages": al[0]["stages"],
            "estimate.agg_run_ms": median([c["executor_run_ms"] for c in jvm]),
            "estimate.shuffle_write_bytes": al[0]["shuffle_write_bytes"],
            "estimate.driver_gap_ms": median([c["driver_gap_ms"] for c in al]),
        })
        counts = {k: out[k] for k in ("estimate.jobs", "estimate.stages", "chunker.tasks",
                                      "estimate.shuffle_write_bytes")}
        return out, counts

    def props(self):
        return {
            "files": len(self.paths), "bytes": self.bytes,
            "edit_fraction_per_revision": round(self.edit_fraction, 5),
            "dedup_ratio": self.dedup_ratio,
        }


# ------------------------------------------------------------------------
class SyntheticFormats(Workload):
    """The ``de synthetic`` flow: generate edited variants, write each in
    every default format, estimate each (group, format)."""

    name = "synthetic_formats"
    items_unit = "files"
    RATE_NAME = "rewrite_files_per_s"
    SCHEMA = {
        "id": "int", "score": "float", "name": "str", "flag": "bool",
        "tags": ["str"], "meta": {"a": "int", "b": "str"},
    }
    SIZE = 2000
    EDITS = 3
    EDIT_SIZE = 10
    APPEND = 0.05
    VARIANTS = ("deleted", "inserted", "appended", "updated")

    def make_inputs(self):
        from dataset_dedupe_estimator_spark.sources.formats import default_formats

        e = self.EDITS
        self.edit_points = list(np.linspace(0.5 / e, 1 - 0.5 / e, e))
        self.formats = default_formats(with_json=True)
        self.rows = {
            "original": self.SIZE,
            "deleted": self.SIZE - e * self.EDIT_SIZE,
            "inserted": self.SIZE + e * self.EDIT_SIZE,
            "appended": self.SIZE + int(self.APPEND * self.SIZE),
            "updated": self.SIZE,
        }
        self.ratios: dict[tuple[str, str], float] = {}
        self.bytes_by_format: dict[str, list[int]] = {}
        self.original = None

    def build(self, rep):
        from dataset_dedupe_estimator_spark.operators.synthetic import (
            DataGenerator,
            finalize,
        )

        if self.original is not None:
            self.original.unpersist()
        self.gen = DataGenerator(self.SCHEMA, seed=self.seed)
        self.original = finalize(self.gen.generate_table(self.spark, self.SIZE)).cache()
        self.original.count()

    def run_op(self, i, ledger):
        from dataset_dedupe_estimator_spark.operators.synthetic import finalize
        from dataset_dedupe_estimator_spark.plans.compare import compare_formats_tables

        # three ops per variant: a traced run's untraced, traced and
        # untraced op (see run.py) then do the same work
        v = self.VARIANTS[(i // 3) % len(self.VARIANTS)]
        group = f"edit{self.VARIANTS.index(v)}-{v}"
        out = self.work / "synthetic" / f"op{i:03d}"

        def op():
            with self.tracer.span("operators.synthetic.generate_synthetic_tables"):
                tables = self.gen.generate_synthetic_tables(
                    self.spark, self.SIZE, self.edit_points, append_ratio=self.APPEND,
                    edit_size=self.EDIT_SIZE,
                )
            groups = {group: {"original": self.original, v: finalize(tables[v])}}
            with self.tracer.span("plans.compare.compare_formats_tables"):
                return compare_formats_tables(
                    self.spark, self.formats, groups, out, max_workers=self.nproc
                )

        def check(results):
            problems = []
            if len(results) != len(self.formats):
                problems.append(f"{len(results)} results for {len(self.formats)} formats")
            for r in results:
                files = sorted(p for p in (out / r.group / r.format).iterdir() if p.is_file())
                if len(files) != 2 or r.numfiles != 2:
                    problems.append(f"{r.group}/{r.format}: files {files}")
                    continue
                for f in files:
                    self.bytes_by_format.setdefault(r.format, []).append(f.stat().st_size)
                    member = "original" if f.name.startswith("original") else v
                    n = _count_rows(f)
                    if n != self.rows[member]:
                        problems.append(f"{f.name}: {n} rows, source has {self.rows[member]}")
                size = sum(f.stat().st_size for f in files)
                if r.total_len != size:
                    problems.append(f"{r.group}/{r.format}: total_len {r.total_len} != {size}")
                key = (r.group, r.format)
                if key in self.ratios and self.ratios[key] != r.dedup_ratio:
                    problems.append(f"{key}: dedup_ratio {r.dedup_ratio} != {self.ratios[key]}")
                self.ratios[key] = r.dedup_ratio
            shutil.rmtree(out, ignore_errors=True)
            return "; ".join(problems) or None

        ledger.run("compare", op, check, info={"items": 2 * len(self.formats), "variant": v})

    def patch(self):
        from dataset_dedupe_estimator_spark.plans import compare
        from dataset_dedupe_estimator_spark.sources import formats

        for cls in {type(f) for f in self.formats}:
            self.tracer.patch(
                cls, "write", lambda fmt, *a, **k: f"sources.formats.write.{fmt.paramstem(fmt.name)}"
            )
        self.tracer.patch(formats, "sanity_check", "sources.formats.sanity_check")
        self.tracer.patch(compare, "estimate", "plans.estimate.estimate")

    def trace_extra(self):
        """Generation cost of each variant alone: ``finalize(df)`` into the
        noop sink."""
        from dataset_dedupe_estimator_spark.operators.synthetic import finalize

        tables = self.gen.generate_synthetic_tables(
            self.spark, self.SIZE, self.edit_points, append_ratio=self.APPEND,
            edit_size=self.EDIT_SIZE,
        )
        for v, df in tables.items():
            with self.tracer.span(f"operators.synthetic.finalize.{v}"):
                finalize(df).write.format("noop").mode("overwrite").save()

    def layers(self, att, ops):
        out, counts = {}, {}
        compares = _spans(att, "plans.compare.compare_formats_tables", ops)
        first_op = ops[:1]
        for f in self.formats:
            label = f.paramstem(f.name)
            key = label.replace("=", "-")
            writes = _spans(att, f"sources.formats.write.{label}", ops)
            first = _spans(att, f"sources.formats.write.{label}", first_op)
            out[f"formats.write_s.{key}"] = _walls(writes)
            out[f"formats.jobs_per_write.{key}"] = counts[f"formats.jobs_per_write.{key}"] = (
                sum(att.counters(s.sid)["jobs"] for s in first) / max(1, len(first))
            )
            out[f"formats.bytes_written.{key}"] = median(self.bytes_by_format.get(label, []))
        out["formats.sanity_check_s"] = _walls(_spans(att, "sources.formats.sanity_check", ops))
        w_sum, e_sum, overlap = [], [], []
        for c in compares:
            inside = set(att.subtree(c.sid))
            w = sum(s.wall for s in att.spans
                    if s.sid in inside and s.name.startswith("sources.formats.write."))
            e = sum(s.wall for s in _spans(att, "plans.estimate.estimate", [c]))
            w_sum.append(w)
            e_sum.append(e)
            overlap.append((w + e) / c.wall)
        out["compare.write_s_sum"] = median(w_sum)
        out["compare.estimate_s_sum"] = median(e_sum)
        out["compare.overlap"] = median(overlap)
        for v in ("original",) + self.VARIANTS:
            out[f"synthetic.generate_s.{v}"] = _walls(
                _spans(att, f"operators.synthetic.finalize.{v}")
            )
        estimates = _spans(att, "plans.estimate.estimate", ops)
        out.update(self._chunker(att, estimates))
        out["estimate.call_s"] = _walls(estimates)
        counts["estimate.jobs"] = out["estimate.jobs"] = att.counters(
            _spans(att, "plans.estimate.estimate", first_op)[0].sid
        )["jobs"]
        return out, counts

    def props(self):
        return {
            "rows": self.SIZE, "edits": self.EDITS, "edit_size": self.EDIT_SIZE,
            "formats": [f.paramstem(f.name) for f in self.formats],
            "dedup_ratio": {f"{g}/{f}": r for (g, f), r in sorted(self.ratios.items())},
        }


def _count_rows(path: Path) -> int:
    if path.suffix == ".parquet":
        return pq.read_table(path).num_rows
    opener = gzip.open if path.suffix == ".gz" else open
    with opener(path, "rb") as f:
        return sum(1 for line in f if line.strip())


# ------------------------------------------------------------------------
class CorpusNearDup(Workload):
    """``plans.lsh_index``: build over most of a corpus with planted
    near-duplicates, then admit fixed batches and probe with queries."""

    name = "corpus_near_dup"
    min_ops = 2
    WARMUP_OPS = 1  # the first round runs much colder than the rest
    items_unit = "docs"
    RATE_NAME = "admit_docs_per_s"
    RATE_TIME_KEY = "admit_s"
    SUB_TIMINGS = (("admit_s", "admit_s_p50", "s"), ("query_s", "query_s_p50", "s"))
    DOC_WORDS = 50
    BASE_DOCS = 1200
    BATCH = 100
    N_BATCHES = 10
    PLANT = 0.2  # share of each batch that is a near-copy of an earlier doc

    def make_inputs(self):
        from dataset_dedupe_estimator_spark.queries.dedupe_text import (
            MH_A, MH_B, MH_P, N_BANDS, N_MINHASH, SHINGLE_W,
        )

        rng = self.rng
        self._mh = (np.array(MH_A, np.int64), np.array(MH_B, np.int64), MH_P,
                    N_BANDS, N_MINHASH // N_BANDS, SHINGLE_W)
        vocab = np.array(_words(rng, 3000), dtype=object)
        zipf = 1.0 / np.arange(1, len(vocab) + 1) ** 0.8
        zipf /= zipf.sum()
        self.text: dict[int, str] = {}
        self.planted: list[tuple[int, int]] = []
        next_id = [0]

        def make(n, near_pool, plant):
            ids = []
            for _ in range(n):
                did = next_id[0]
                next_id[0] += 1
                if near_pool and rng.random() < plant:
                    src = near_pool[rng.integers(0, len(near_pool))]
                    words = self.text[src].split(" ")
                    for pos in rng.choice(len(words), rng.integers(1, 3), replace=False):
                        words[pos] = vocab[rng.integers(0, len(vocab))]
                    self.planted.append((src, did))
                else:
                    words = list(rng.choice(vocab, self.DOC_WORDS, p=zipf))
                self.text[did] = " ".join(words)
                ids.append(did)
            return ids

        d = self.work / "corpus"
        d.mkdir(parents=True)
        self.base = make(self.BASE_DOCS, None, 0)
        self.base += make(self.BASE_DOCS // 10, self.base[:], 1.0)  # near-copies within
        self.batches, self.probes = [], []
        pool = self.base[:]
        for _ in range(self.N_BATCHES):
            b = make(self.BATCH, pool, self.PLANT)
            self.batches.append(b)
            pool += b
            self.probes.append(make(self.BATCH, self.base, 0.3))
        self.files = {}
        for name, ids in [("base", self.base)] + [
            (f"batch{i}", b) for i, b in enumerate(self.batches)
        ] + [(f"probe{i}", p) for i, p in enumerate(self.probes)]:
            path = d / f"{name}.parquet"
            pq.write_table(
                pa.table({"doc_id": pa.array(ids, pa.int64()),
                          "text": pa.array([self.text[x] for x in ids])}),
                path,
            )
            self.files[name] = str(path)
        self.sig = {x: self._bands(self.text[x]) for x in self.text}
        self.candidates = 0
        self.planted_found = set()
        self.traced_rounds = self.prefix_pairs = 0

    def _bands(self, text):
        """Independent MinHash-LSH band keys of one doc (the index's
        signature spec: word-trigram shingles, md5 base hash, affine
        permutations, rows-per-band minima)."""
        a, b, p, n_bands, rows, w = self._mh
        t = text.split(" ")
        sh = {" ".join(t[i : i + w]) for i in range(len(t) - w + 1)}
        base = np.array(
            [int.from_bytes(hashlib.md5(s.encode()).digest()[:4], "big") % p for s in sh],
            np.int64,
        )
        sig = ((base[:, None] * a + b) % p).min(axis=0)
        return [(k, tuple(sig[k * rows : (k + 1) * rows].tolist())) for k in range(n_bands)]

    def _df(self, name):
        return self.spark.read.parquet(self.files[name])

    def build(self, rep):
        from dataset_dedupe_estimator_spark.plans.lsh_index import build_lsh_index

        self.index = self.work / f"lsh-{rep}"
        build_lsh_index(self.spark, self._df("base"), self.index)
        self.buckets: dict = {}
        for x in self.base:
            for key in self.sig[x]:
                self.buckets.setdefault(key, set()).add(x)
        self.admitted = set(self.base)

    def exhausted(self, i):
        return i >= self.N_BATCHES

    def run_op(self, i, ledger):
        from dataset_dedupe_estimator_spark.plans.lsh_index import admit_docs, query_docs

        batch, probe = self.batches[i], self.probes[i]
        # the model: band collisions of the batch against history and itself
        fresh = [x for x in batch if x not in self.admitted]
        want_admit = set()
        for x in fresh:
            for key in self.sig[x]:
                self.buckets.setdefault(key, set()).add(x)
        for x in fresh:
            for key in self.sig[x]:
                for y in self.buckets[key]:
                    if y != x:
                        want_admit.add((min(x, y), max(x, y)))
        self.admitted.update(fresh)
        want_query = {
            (x, y) for x in probe for key in self.sig[x]
            for y in self.buckets.get(key, ()) if y != x
        }
        sub = {}

        def op():
            with self.tracer.span("plans.lsh_index.admit_docs"):
                t0 = time.perf_counter()
                cands, rep = admit_docs(self.spark, self._df(f"batch{i}"), self.index)
                pairs = {(r.doc_a, r.doc_b) for r in cands.collect()}
                sub["admit_s"] = time.perf_counter() - t0
            with self.tracer.span("plans.lsh_index.query_docs"):
                t0 = time.perf_counter()
                hits = {
                    (r.probe_doc_id, r.index_doc_id)
                    for r in query_docs(self.spark, self._df(f"probe{i}"), self.index).collect()
                }
                sub["query_s"] = time.perf_counter() - t0
            return pairs, rep, hits

        def check(res):
            pairs, rep, hits = res
            problems = []
            if pairs != want_admit:
                problems.append(
                    f"admit pairs: {len(pairs - want_admit)} unexpected, "
                    f"{len(want_admit - pairs)} missing"
                )
            if rep["docs"] != len(fresh) or rep["candidate_pairs"] != len(want_admit):
                problems.append(f"admit report {rep} != docs {len(fresh)}, pairs {len(want_admit)}")
            if hits != want_query:
                problems.append(
                    f"query pairs: {len(hits - want_query)} unexpected, "
                    f"{len(want_query - hits)} missing"
                )
            self.candidates += len(pairs)
            self.planted_found |= {
                (a, b) for a, b in self.planted if (min(a, b), max(a, b)) in pairs
            }
            return "; ".join(problems) or None

        op_rec = ledger.run("round", op, check, info={"items": len(fresh)})
        op_rec.info.update(sub)
        if self.tracer.enabled and self.traced_rounds < self.min_ops:
            self.traced_rounds += 1
            self.prefix_pairs += len(want_admit)

    def final_check(self):
        from dataset_dedupe_estimator_spark.plans.lsh_index import index_stats

        stats = index_stats(self.spark, self.index)
        if stats["docs"] != len(self.admitted):
            return f"index_stats docs {stats['docs']} != admitted {len(self.admitted)}"
        return None

    def layers(self, att, ops):
        admits = _spans(att, "plans.lsh_index.admit_docs", ops)
        first_admit = att.counters(admits[0].sid)
        py = [att.counters(s.sid, python=True) for s in ops]
        gens = [p for p in self.index.glob("gen-*.parquet") if p.name != "gen-00000.parquet"]
        written = sum(f.stat().st_size for g in gens for f in g.rglob("*.parquet"))
        out = {
            "minhash.bands_s": median([c["stage_wall_ms"] / 1e3 for c in py]),
            "minhash.py_gap_ms": median([c["py_gap_ms"] for c in py]),
            "minhash.py_worker_start_ms": median([c["py_worker_start_ms"] for c in py]),
            "lsh_index.build_s": _walls(_spans(att, "setup.build")),
            "lsh_index.admit_s": _walls(admits),
            "lsh_index.query_s": _walls(_spans(att, "plans.lsh_index.query_docs", ops)),
            "lsh_index.jobs_per_admit": first_admit["jobs"],
            "lsh_index.shuffle_read_bytes_per_admit": first_admit["shuffle_read_bytes"],
            "lsh_index.bytes_written_per_doc": written / max(1, len(self.admitted) - len(self.base)),
            "lsh_index.candidate_pairs": self.prefix_pairs,
        }
        counts = {k: out[k] for k in ("lsh_index.jobs_per_admit", "lsh_index.candidate_pairs",
                                      "lsh_index.shuffle_read_bytes_per_admit")}
        return out, counts

    def props(self):
        # planted pairs whose copy arrived through admit_docs
        admitted_planted = [
            (a, b) for a, b in self.planted if b in self.admitted and b not in self.base
        ]
        docs_admitted = len(self.admitted) - len(self.base)
        return {
            "base_docs": len(self.base), "batch_docs": self.BATCH,
            "planted_near_dup_share": round(self.PLANT, 3),
            "planted_pairs_admitted": len(admitted_planted),
            "planted_pairs_candidates_share": (
                round(len(self.planted_found) / len(admitted_planted), 4)
                if admitted_planted else None
            ),
            "candidate_pairs_per_admitted_doc": (
                round(self.candidates / docs_admitted, 4) if docs_admitted else None
            ),
        }


# ------------------------------------------------------------------------
class TableDml(Workload):
    """``sources.versioned``: cycles of pruned and deletion-vector DML
    commits, each followed by a time-travel read of the version before it."""

    name = "table_dml"
    items_unit = "commits"
    RATE_NAME = "commits_per_s"
    PYTHON_WORKERS = False
    # the first cycle plans and compiles every query shape of the verbs and
    # runs far slower (and far more variably) than the later ones
    WARMUP_OPS = 1
    SUB_TIMINGS = (("commit_s", "commit_s_p50", "s"), ("read_s", "read_s_p50", "s"))
    ROWS = 40_000
    BAND = 100  # rows each commit changes
    # one op is one cycle: each verb once, in this order (the first commit
    # runs colder, and it must be the same verb on every seed)
    VERBS = ("upsert_pruned", "delete_where_pruned", "update_where_pruned",
             "delete_where_dv", "update_where_dv")
    MAX_CYCLES = 12

    def make_inputs(self):
        rng = self.rng
        n = self.ROWS
        d = self.work / "dml"
        d.mkdir(parents=True)
        # Keys are even, so an upsert inserts odd keys inside its own band and
        # its output file's zone map stays within that band. A band is
        # 2 * BAND key values holding BAND rows; each data file holds whole
        # bands (see build). So every commit touches exactly one data file
        # and the seed changes which band, never how many files.
        self.files = 2 * self.nproc
        per_file = n // self.BAND // self.files
        self.file_keys = 2 * self.BAND * per_file  # key values per data file
        self.rows = {
            2 * i: (int(v), s)
            for i, v, s in zip(range(n), rng.integers(0, 1_000_000, n), _words(rng, n, 8, 17))
        }
        path = d / "base.parquet"
        pq.write_table(pa.table({
            "k": pa.array(list(self.rows), pa.int64()),
            "v": pa.array([r[0] for r in self.rows.values()], pa.int64()),
            "s": pa.array([r[1] for r in self.rows.values()]),
        }), path)
        self.base_path = str(path)
        self.base_rows = dict(self.rows)
        # step i goes to data file i % files, in a band of its own there
        bands = [rng.permutation(per_file) + f * per_file for f in range(self.files)]
        self.plan = []
        for i in range(self.MAX_CYCLES * len(self.VERBS)):
            verb = self.VERBS[i % len(self.VERBS)]
            lo = int(bands[i % self.files][i // self.files]) * 2 * self.BAND
            step = {"verb": verb, "lo": lo, "hi": lo + 2 * self.BAND - 1}
            if verb == "upsert_pruned":  # half the band replaced, half new keys
                half = self.BAND // 2
                keys = list(range(lo, lo + 2 * half, 2)) + list(range(lo + 1, lo + 2 * half, 2))
                vals = rng.integers(0, 1_000_000, len(keys))
                strs = _words(rng, len(keys), 8, 17)
                up = d / f"upsert-{i:03d}.parquet"
                pq.write_table(pa.table({
                    "k": pa.array(keys, pa.int64()), "v": pa.array(vals, pa.int64()),
                    "s": pa.array(strs),
                }), up)
                step["path"] = str(up)
                step["rows"] = {k: (int(v), s) for k, v, s in zip(keys, vals, strs)}
            self.plan.append(step)
        self.changed_rows = []
        self.traced_ops = []

    @staticmethod
    def _crc(k, v, s):
        return zlib.crc32(f"{k}|{v}|{s}".encode())

    def _digest(self):
        return len(self.rows), sum(self._crc(k, v, s) for k, (v, s) in self.rows.items())

    def build(self, rep):
        from pyspark.sql import functions as F

        from dataset_dedupe_estimator_spark.sources import versioned

        self.root = self.work / f"table-{rep}"
        # One data file per file key range, so no band straddles two files.
        # Range partitioning samples and may merge two ranges into one file;
        # hash partitioning sends v to pmod(hash(v), files), so map range f
        # to the smallest v that lands in partition f.
        ids = self.spark.range(64 * self.files).select(F.col("id").cast("int").alias("id"))
        part_ids = [r.v for r in ids.groupBy(F.pmod(F.hash("id"), self.files).alias("p"))
                    .agg(F.min("id").alias("v")).orderBy("p").collect()]
        fid = F.floor(F.col("k") / self.file_keys).cast("int") + 1
        df = self.spark.read.parquet(self.base_path).repartition(
            self.files, F.element_at(F.array(*map(F.lit, part_ids)), fid)
        )
        versioned.append(self.root, df, stats_columns=["k"], change_feed=True)
        self.rows = dict(self.base_rows)
        self.version = 0
        self.digests = {0: self._digest()}
        self.table_bytes = sum(
            f.stat().st_size for f in (self.root / "data").rglob("*.parquet")
        )

    def exhausted(self, i):
        return i >= self.MAX_CYCLES

    def _read(self, version):
        from pyspark.sql import functions as F

        from dataset_dedupe_estimator_spark.sources import versioned

        df = versioned.read_version(self.spark, self.root, version)
        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.crc32(F.concat_ws("|", "k", "v", "s"))).alias("h"),
        ).collect()[0]
        return row.n, row.h or 0

    def _step(self, step):
        """Apply one planned commit to the model; return the package call,
        the report fields it must return, and the version its read sees."""
        from pyspark.sql import functions as F

        from dataset_dedupe_estimator_spark.sources import versioned

        verb, lo, hi = step["verb"], step["lo"], step["hi"]
        band = [k for k in range(lo, hi + 1) if k in self.rows]
        fn = getattr(versioned, verb)
        if verb == "upsert_pruned":
            want = {"upsert_rows": len(step["rows"]),
                    "replaced_rows": sum(1 for k in step["rows"] if k in self.rows)}
            self.rows.update(step["rows"])
            call = lambda: fn(  # noqa: E731
                self.spark, self.root, self.spark.read.parquet(step["path"]), ["k"]
            )
            changed = len(step["rows"])
        elif verb.startswith("delete"):
            want = {"deleted_rows": len(band)}
            for k in band:
                del self.rows[k]
            call = lambda: fn(self.spark, self.root, [("k", "between", (lo, hi))])  # noqa: E731
            changed = len(band)
        else:
            want = {"updated_rows": len(band)}
            for k in band:
                v, s = self.rows[k]
                self.rows[k] = (v + 7, s)
            call = lambda: fn(  # noqa: E731
                self.spark, self.root, [("k", "between", (lo, hi))], {"v": F.col("v") + 7}
            )
            changed = len(band)
        self.version += 1
        want["version"] = self.version
        self.digests[self.version] = self._digest()
        # time travel to the snapshot before this commit: the same read
        # shape on every seed
        read_v = self.version - 1
        return {"verb": verb, "call": call, "want": want, "changed": changed, "read_v": read_v}

    def run_op(self, i, ledger):
        n = len(self.VERBS)
        steps = [self._step(st) for st in self.plan[i * n : (i + 1) * n]]
        sub = {"commit_s": [], "read_s": [], "rewritten_files": {}}

        def op():
            out = []
            for st in steps:
                with self.tracer.span(f"sources.versioned.{st['verb']}"):
                    t0 = time.perf_counter()
                    rep = st["call"]()
                    sub["commit_s"].append(time.perf_counter() - t0)
                    sub["rewritten_files"][st["verb"]] = rep.get("rewritten_files")
                with self.tracer.span("sources.versioned.read_version"):
                    t0 = time.perf_counter()
                    got = self._read(st["read_v"])
                    sub["read_s"].append(time.perf_counter() - t0)
                out.append((rep, got))
            return out

        def check(results):
            problems = []
            for st, (rep, got) in zip(steps, results):
                bad = {k: (rep.get(k), v) for k, v in st["want"].items() if rep.get(k) != v}
                if bad or not rep.get("committed"):
                    problems.append(f"{st['verb']} report (got, want): {bad or rep}")
                if tuple(got) != self.digests[st["read_v"]]:
                    problems.append(f"read_version({st['read_v']}) {got} != model "
                                    f"{self.digests[st['read_v']]}")
            return "; ".join(problems) or None

        changed = sum(st["changed"] for st in steps)
        op_rec = ledger.run("cycle", op, check, info={"items": n, "rows_changed": changed})
        op_rec.info.update(sub)
        if self.tracer.enabled:
            self.traced_ops.append(op_rec)
        self.changed_rows += [st["changed"] for st in steps]

    def final_check(self):
        got = self._read(None)
        want = self.digests[self.version]
        return None if tuple(got) == want else f"final table {got} != model {want}"

    def layers(self, att, ops):
        out, counts = {}, {}
        written, gaps = 0.0, []
        for verb in self.VERBS:
            calls = _spans(att, f"sources.versioned.{verb}", ops)
            out[f"versioned.{verb}_s"] = _walls(calls)
            first = att.counters(_spans(att, f"sources.versioned.{verb}", ops[:1])[0].sid)
            out[f"versioned.{verb}_jobs"] = counts[f"versioned.{verb}_jobs"] = first["jobs"]
            out[f"versioned.{verb}_files_rewritten"] = counts[
                f"versioned.{verb}_files_rewritten"
            ] = self.traced_ops[0].info["rewritten_files"][verb]
            for s in calls:
                c = att.counters(s.sid)
                written += c["output_bytes"]
                gaps.append(c["driver_gap_ms"])
        changed = sum(o.info["rows_changed"] for o in self.traced_ops) * self.table_bytes / self.ROWS
        out["versioned.write_amp"] = written / changed if changed else 0.0
        out["versioned.read_version_s"] = _walls(_spans(att, "sources.versioned.read_version", ops))
        out["versioned.driver_gap_ms"] = median(gaps)
        return out, counts

    def props(self):
        return {
            "rows": self.ROWS, "verbs_per_cycle": list(self.VERBS),
            "rows_changed_per_commit": (
                round(float(np.mean(self.changed_rows)), 2) if self.changed_rows else None
            ),
        }


WORKLOADS = {w.name: w for w in (RevisionsEstimate, SyntheticFormats, CorpusNearDup, TableDml)}
