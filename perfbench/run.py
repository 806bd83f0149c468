"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

``--workload all`` runs every workload of BENCHMARK.json in turn, each in
its own process, and exits non-zero if any of them does.

Runs one workload at local[nproc] from this process: set-up (session start,
worker warm-up, the initial build, repeated), then ops in a closed loop for
``--seconds`` (at least the workload's ``min_ops``), each output checked.
Prints a report, then as its last line one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. Exits 1 when an
output check fails, 2 when the package cannot be imported from this
checkout. Reads and writes only under ``perfbench/_work``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import harness  # noqa: E402
from harness import Ledger, Session, median, quartiles, tail  # noqa: E402

BUILD_REPS = 3


def _config():
    return json.loads((HERE.parent / "BENCHMARK.json").read_text())


def _use_work_tmp() -> None:
    """Temporary files of this process, its JVM and Python workers go under
    the checkout (the native chunker library caches itself there across
    runs). Set before the package is imported."""
    tmp = harness.WORK_BASE / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = None  # re-read TMPDIR


def _prepare_work(seed: int) -> Path:
    work = harness.WORK_BASE / f"run-{os.getpid()}-{seed}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    (work / "tmp").mkdir()
    return work


def _import_package():
    try:
        import dataset_dedupe_estimator_spark as pkg
    except ImportError as e:
        print(f"perfbench: cannot import the package from {harness.ROOT}: {e}", file=sys.stderr)
        sys.exit(2)
    if Path(pkg.__file__).resolve().parent.parent != harness.ROOT:
        print(f"perfbench: package imported from {pkg.__file__}, not this checkout", file=sys.stderr)
        sys.exit(2)


def _stat_line(name, unit, values):
    q1, q2, q3 = quartiles(values)
    line = f"  {name:<28} {unit:<9} median {q2:11.4f}  q1 {q1:11.4f}  q3 {q3:11.4f}  n {len(values)}"
    t = tail(values)
    line += f"  tail p{t[0]:g} {t[1]:.4f} ({t[2]} beyond)" if t else "  tail n/a (<20 samples)"
    return line


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops Spark, the JVM and its workers (finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    spec = _config()
    if args.workload == "all":
        return _run_all(args, spec)
    from tracing import Tracer
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; have {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, str(harness.ROOT))
    _use_work_tmp()
    _import_package()
    work = _prepare_work(args.seed)

    nproc = len(os.sched_getaffinity(0))  # what `nproc` prints
    trace = bool(args.trace)
    tracer = Tracer(enabled=trace)
    wl = WORKLOADS[args.workload](args.seed, work, nproc, tracer)
    session = Session(work, nproc, trace)
    ledger = Ledger(tracer)
    ticks = harness.cpu_ticks()
    try:
        run = _run(args, wl, session, tracer, ledger)
    finally:
        session.stop()
        tracer.unpatch()
    steal, total = (b - a for a, b in zip(ticks, harness.cpu_ticks()))
    run["steal"] = steal / total if total else 0.0
    report = _report(args, spec, wl, ledger, run, tracer, session)
    shutil.rmtree(work, ignore_errors=True)
    print(report["text"])
    print(json.dumps(report["result"]))
    return 0 if report["result"]["correct"] else 1


def _run_all(args, spec) -> int:
    worst = 0
    for w in spec["workloads"]:
        proc = subprocess.run([
            sys.executable, __file__, "--workload", w["name"], "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
        ])
        worst = max(worst, proc.returncode)
    return worst


def _run(args, wl, session, tracer, ledger) -> dict:
    wl.make_inputs()
    inputs = [p for p in session.work.rglob("*") if p.is_file()]
    run = {"input_files": len(inputs), "input_bytes": sum(p.stat().st_size for p in inputs)}
    t0 = time.perf_counter()
    spark = session.start()
    run["session_start_s"] = time.perf_counter() - t0
    tracer.sc = spark.sparkContext if tracer.enabled else None
    wl.spark = spark
    t0 = time.perf_counter()
    with tracer.span("setup.warm"):
        session.warm(wl.PYTHON_WORKERS)
    run["warm_s"] = time.perf_counter() - t0
    builds = []
    for rep in range(BUILD_REPS):
        t0 = time.perf_counter()
        with tracer.span("setup.build"):
            wl.build(rep)
        builds.append(time.perf_counter() - t0)
    run["build_s"] = builds
    run["setup_s"] = run["session_start_s"] + run["warm_s"] + median(builds)
    run["host"] = session.host()

    # A traced run alternates blocks of min_ops untraced and traced ops,
    # starting untraced, so the first (coldest) block warms up and the
    # untraced block after a traced one (no spans, job groups or wrapper
    # spans; the event log is session-wide and stays on) gives the overhead.
    traced_run = tracer.enabled
    tracer.enabled = False
    for i in range(wl.WARMUP_OPS):  # checked and counted, not timed
        wl.run_op(i, ledger)
        ledger.ops[-1].info["warmup"] = True
    if traced_run:
        wl.patch()
    need = wl.min_ops * (3 if traced_run else 1)
    t0 = time.perf_counter()
    n = 0
    while (time.perf_counter() - t0 < args.seconds or n < need) and not wl.exhausted(n + wl.WARMUP_OPS):
        tracer.enabled = traced_run and (n // wl.min_ops) % 2 == 1
        wl.run_op(n + wl.WARMUP_OPS, ledger)
        ledger.ops[-1].info["traced"] = tracer.enabled
        n += 1
    tracer.enabled = traced_run
    ledger.run("final_check", wl.final_check, lambda p: p, span=False)
    if traced_run:
        tracer.unpatch()
        wl.trace_extra()
    run["peak_rss_mb"] = session.peak_rss_mb()
    return run


def _report(args, spec, wl, ledger, run, tracer, session) -> dict:
    timed = [o for o in ledger.ops[:-1] if "warmup" not in o.info]  # nor the final check
    ok = [o for o in timed if o.ok]
    walls = [o.wall_s for o in ok]
    items = sum(o.info.get("items", 0) for o in ok)
    e2e = {
        "setup_s": run["setup_s"],
        "op_s_p50": median(walls),
        "items_per_s": median([o.info.get("items", 0) / o.wall_s for o in ok]),
        "peak_rss_mb": run["peak_rss_mb"],
    }
    lines = [
        f"perfbench workload={wl.name} seed={args.seed} seconds={args.seconds:g} trace={args.trace}",
        f"host: {json.dumps(run['host'], sort_keys=True)}",
        f"host CPU stolen by the hypervisor during the run: {run['steal']:.1%} "
        "(figures from a run above a few percent are suspect)",
        f"inputs: {run['input_files']} files, {run['input_bytes']} bytes written from the seed; "
        f"{json.dumps(wl.props(), sort_keys=True)}",
        f"set-up: session start {run['session_start_s']:.3f} s, warm-up {run['warm_s']:.3f} s, "
        f"builds {[round(b, 3) for b in run['build_s']]} s",
        "end-to-end (order statistics over this run's ops):",
        _stat_line("setup_s", "s", [run["session_start_s"] + run["warm_s"] + b for b in run["build_s"]]),
        _stat_line("op_s_p50", "s", walls),
    ]
    for key, label, unit in wl.SUB_TIMINGS:
        values = [o.info[key] for o in ok if key in o.info]
        values = [x for v in values for x in (v if isinstance(v, list) else [v])]
        lines.append(_stat_line(label, unit, values))
    lines.append(_stat_line("items_per_s", wl.items_unit + "/s",
                            [o.info.get("items", 0) / o.wall_s for o in ok]))
    if wl.RATE_TIME_KEY and ok:
        rate_s = sum(o.info[wl.RATE_TIME_KEY] for o in ok)
        lines.append(f"  {wl.RATE_NAME:<28} {wl.items_unit + '/s':<9} {items / rate_s:.4f}  "
                     f"(over {wl.RATE_TIME_KEY} only)")
    else:
        lines.append(f"  {wl.RATE_NAME:<28} {wl.items_unit + '/s':<9} = items_per_s")
    lines.append(f"  {'peak_rss_mb':<28} {'MB':<9} {run['peak_rss_mb']:.1f}")
    lines.append(f"  {'failed_op_ratio':<28} {'ratio':<9} {ledger.failed}/{ledger.attempted}")
    lines.append("ops: " + " ".join(f"{o.kind}={o.wall_s:.3f}" for o in timed))
    for o in ledger.ops:
        if not o.ok:
            lines.append(f"  FAILED {o.kind}: {o.error}")

    result = {"correct": ledger.failed == 0, "attempted": ledger.attempted, "failed": ledger.failed}
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    if not args.trace:
        result["metrics"] = {
            m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]} for m in spec["end_to_end"]
        }
    else:
        layer = _trace_metrics(wl, ledger, run, tracer, session, lines)
        result["metrics"] = {
            m["name"]: {"value": layer[m["name"]], "unit": units[m["name"]]} for m in spec["per_layer"]
        }
    return {"text": "\n".join(lines), "result": result}


def _trace_metrics(wl, ledger, run, tracer, session, lines) -> dict:
    from tracing import Attribution, read_eventlog

    jobs, stages = read_eventlog(session.eventlog_dir)
    att = Attribution(tracer.spans, jobs, stages)
    op_spans = [s for s in tracer.spans if s.name.startswith("op.")]
    prefix = op_spans[: wl.min_ops]
    per_op = [att.counters(s.sid) for s in op_spans]
    first = [att.counters(s.sid) for s in prefix]
    # the first untraced block is warm-up too
    ops = [o for o in ledger.ops[wl.WARMUP_OPS + wl.min_ops : -1] if o.ok]
    traced = [o.wall_s for o in ops if o.info["traced"]]
    untraced = [o.wall_s for o in ops if not o.info["traced"]]
    n = max(1, len(prefix))
    layer = {
        "session.start_s": run["session_start_s"],
        "session.warm_s": run["warm_s"],
        "op.wall_s": median([s.wall for s in op_spans]),
        "op.jobs": sum(c["jobs"] for c in first) / n,
        "op.stages": sum(c["stages"] for c in first) / n,
        "op.tasks": sum(c["tasks"] for c in first) / n,
        "trace.overhead_s": median(traced) - median(untraced),
    }
    for k in ("executor_run_ms", "executor_cpu_ms", "py_gap_ms", "sched_wait_ms",
              "shuffle_write_bytes", "shuffle_read_bytes", "driver_gap_ms"):
        layer[f"op.{k}"] = median([c[k] for c in per_op])
    specific, counts = wl.layers(att, op_spans)
    counts.update({k: layer[k] for k in ("op.jobs", "op.stages", "op.tasks")})

    closure = max((att.closure_error(s.sid) for s in op_spans), default=0.0)
    lines.append("per-layer (traced run):")
    for k, v in list(layer.items()) + list(specific.items()):
        lines.append(f"  {k:<44} {v:.6g}" if isinstance(v, (int, float)) else f"  {k:<44} {v}")
    lines.append(f"tracing overhead: median traced - median untraced op wall = "
                 f"{layer['trace.overhead_s']:.4f} s over {len(traced)} traced and "
                 f"{len(untraced)} untraced ops")
    lines.append(f"self-time closure: max |sum(self) - wall| over {len(op_spans)} ops = {closure:.3e} s")
    lines.append("self time per op, by span (s):")
    for s in op_spans:
        selfs: dict[str, float] = {}
        for i in att.subtree(s.sid):
            name = att.spans[i].name
            selfs[name] = selfs.get(name, 0.0) + att.self_time[i]
        parts = ", ".join(f"{k} {v:.3f}" for k, v in sorted(selfs.items(), key=lambda kv: -kv[1]))
        lines.append(f"  {s.name} wall {s.wall:.3f}: {parts}")
    lines.append(f"jobs outside every span (untraced ops, final check): {att.unattributed_jobs}")
    lines.append("spans (calls, wall median s, self sum s, jobs, stages, tasks, run ms, cpu ms, "
                 "py_gap ms, sched_wait ms, shuffle w/r bytes, input bytes, gc ms, spill bytes, driver_gap ms):")
    by_name: dict[str, list] = {}
    for s in tracer.spans:
        by_name.setdefault(s.name, []).append(s)
    for name, spans in by_name.items():
        cs = [att.counters(s.sid) for s in spans]
        tot = {k: sum(c[k] for c in cs) for k in cs[0]}
        lines.append(
            f"  {name:<44} {len(spans):4d} {median([s.wall for s in spans]):9.4f} "
            f"{sum(att.self_time[s.sid] for s in spans):9.4f} {tot['jobs']:5.0f} {tot['stages']:5.0f} "
            f"{tot['tasks']:6.0f} {tot['executor_run_ms']:9.0f} {tot['executor_cpu_ms']:9.0f} "
            f"{tot['py_gap_ms']:9.0f} {tot['sched_wait_ms']:9.0f} "
            f"{tot['shuffle_write_bytes']:.0f}/{tot['shuffle_read_bytes']:.0f} {tot['input_bytes']:.0f} "
            f"{tot['gc_ms']:.0f} {tot['spill_bytes']:.0f} {tot['driver_gap_ms']:.0f}"
        )
    lines.append("counts: " + json.dumps(counts, sort_keys=True))
    harness.dump_json(harness.WORK_BASE / f"trace-{wl.name}-{wl.seed}.json", {
        "spans": tracer.dump(), "layer": layer, "specific": specific, "counts": counts,
    })
    return layer


if __name__ == "__main__":
    sys.exit(main())
