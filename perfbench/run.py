#!/usr/bin/env python3
"""processor_spark benchmark.

    python3 perfbench/run.py --workload collections|streams --seed N \\
        --seconds S --trace 0|1

Run from the root of a checkout.  It writes the seed's inputs under
``perfbench/.data`` (once per seed), starts one engine (``Engine.local``
on ``local[k]``), binds the generated tables, sets the workload up, runs
one warm-up op of each type, then drives a closed loop with one client:
the next op starts only when the previous one has returned, and op types
rotate so that no type runs twice in a row.

``--trace 0`` measures for ``--seconds`` (never less than one op of each
type) and prints the end-to-end metrics.  ``--trace 1`` runs one round
of ops untraced and then the same round traced, so its counts repeat
exactly for a seed, and prints the per-layer metrics; its spans,
counters and self times go to ``perfbench/.traces``.  Outputs are checked
after the measured pass, and every run stamps host noise (steal share,
canary timings, load average) into its report.

The last line of standard output is the result
``{"correct", "attempted", "failed", "metrics"}``; the line before it is
the full report.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import procstat  # noqa: E402
import stats  # noqa: E402

# Spark runs local[CPUS]: at most 4 cores, fewer only on a smaller host.
CPUS = min(4, os.cpu_count() or 1)
TRACE_ROUNDS = 1


def parse(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["collections", "streams"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args(argv)


def _prepare_env(work: str) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``
    and make the program importable by the Python workers."""
    for d in ("spark-local", "warehouse", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(work, "warehouse")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    tmp = os.path.join(work, "tmp")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "-Djava.io.tmpdir={tmp} -XX:-UsePerfData" pyspark-shell'
    )


def _stop_engine(spark) -> None:
    """Stop Spark and its JVM, then wait until no process this run
    started is left."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.terminate()
            proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while len(procstat.tree_pids(os.getpid())) > 1 and time.monotonic() < deadline:
        time.sleep(0.2)
    for pid in procstat.tree_pids(os.getpid())[1:]:
        try:
            os.kill(pid, 9)
        except OSError:
            pass


class Pass:
    """Per-type op walls, Spark jobs and input rows, per-round wall, CPU
    and rows, and failures, of one sequence of ops."""

    def __init__(self, types: list[str]) -> None:
        self.walls: dict[str, list[float]] = {t: [] for t in types}
        self.jobs: dict[str, list[int]] = {t: [] for t in types}
        self.rows: dict[str, list[int]] = {t: [] for t in types}
        # (wall s, CPU s, JIT compiler CPU s, rows) of each whole round
        self.rounds: list[tuple[float, float, float, int]] = []
        self.ops: list[str] = []
        self.failed: list[str] = []
        self.wall_s = 0.0
        self.jit_cpu_s = 0.0


def _next_job_id(wl) -> int:
    """The DAG scheduler's job counter: one py4j call, no listener and
    no status store."""
    return wl.eng.spark.sparkContext._jsc.sc().dagScheduler().nextJobId()


def _run_op(wl, typ: str, p: Pass, tracer=None, op_id: str = "") -> None:
    job0, t0 = _next_job_id(wl), time.perf_counter()
    rows = 0
    try:
        if tracer is None:
            rows = wl.op(typ)
        else:
            with tracer.op(op_id, typ):
                rows = wl.op(typ, tracer)
    except Exception:
        from workloads import PoolExhausted

        if sys.exc_info()[0] is PoolExhausted:
            raise
        traceback.print_exc(file=sys.stderr)
        p.failed.append(typ)
    p.walls[typ].append(time.perf_counter() - t0)
    p.jobs[typ].append(_next_job_id(wl) - job0)
    p.rows[typ].append(rows)
    p.ops.append(typ)


def _drive(wl, p: Pass, seconds: float | None, rounds: int | None, tracer=None, tag: str = "op") -> None:
    """Closed loop: ``rounds`` whole rounds, or until ``seconds`` have
    passed and every type ran at least once.  Wall, process-tree CPU and
    rows are also taken per whole round, so a time-boxed pass that ends
    mid-round does not weigh its last types twice."""
    from workloads import PoolExhausted

    types = wl.types
    jit0 = procstat.jit_threads_cpu()
    t0 = t_round = time.perf_counter()
    cpu_round, jit_round = procstat.tree_cpu_s(), jit0
    i = 0
    try:
        while True:
            _run_op(wl, types[i % len(types)], p, tracer, f"{tag}-{i}")
            i += 1
            if i % len(types) == 0:
                t, cpu, jit = time.perf_counter(), procstat.tree_cpu_s(), procstat.jit_threads_cpu()
                rows = sum(p.rows[x][-1] for x in types)
                p.rounds.append((t - t_round, cpu - cpu_round, procstat.jit_delta_s(jit_round, jit), rows))
                t_round, cpu_round, jit_round = t, cpu, jit
            if rounds is not None and i >= rounds * len(types):
                break
            if seconds is not None and i >= len(types) and time.perf_counter() - t0 >= seconds:
                break
    except PoolExhausted as e:
        print(f"input pool exhausted ({e}); pass ends after {i} ops", file=sys.stderr)
    p.wall_s = time.perf_counter() - t0
    p.jit_cpu_s = procstat.jit_delta_s(jit0, procstat.jit_threads_cpu())


def _host_noise(ticks0, ticks1, with_canary: bool) -> dict:
    """Host noise over the measured pass: the share of CPU time the
    hypervisor stole and the load average; with ``with_canary`` also the
    single-core reference timings of tools/canary.py (about 3 s, so only
    traced runs pay for them)."""
    host = {"steal_frac": procstat.steal_frac(ticks0, ticks1), "loadavg_1m": os.getloadavg()[0]}
    if with_canary:
        from tools.canary import canary

        host["canary"] = canary()
        host["canary_s"] = host["canary"]["md5_2m_s"] + host["canary"]["loop_20m_s"]
    return host


def run(args: argparse.Namespace) -> tuple[dict, dict]:
    import datagen

    t_gen, cpu_gen = time.perf_counter(), procstat.tree_cpu_s()
    data = datagen.ensure(args.seed, os.path.join(HERE, ".data"))
    gen_s, gen_cpu_s = time.perf_counter() - t_gen, procstat.tree_cpu_s() - cpu_gen
    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _prepare_env(work)
    sys.path.insert(0, ROOT)

    from processor_spark.api import Engine

    import workloads

    tracer = None
    phases: list[tuple[str, float]] = []
    t = time.perf_counter()
    eng = Engine.local(master=f"local[{CPUS}]", app_name="processor_spark-perfbench")
    phases.append(("session.start", time.perf_counter() - t))
    try:
        if args.trace:
            from spans import Tracer

            tracer = Tracer(eng.spark)
        t = time.perf_counter()
        eng.bind(os.path.join(data, "tables"))
        phases.append(("sources.bind", time.perf_counter() - t))
        cls = workloads.Collections if args.workload == "collections" else workloads.Streams
        wl = cls(eng, os.path.join(data, "tables" if args.workload == "collections" else "streams"), work)
        t = time.perf_counter()
        wl.setup()
        warm = Pass(wl.types)
        _drive(wl, warm, None, 1)
        phases.append(("workload.setup", time.perf_counter() - t))
        # set-up CPU, like every CPU figure here, excludes host steal,
        # which moves set-up wall by half between runs on a shared host
        setup_wall_s = procstat.process_age_s() - gen_s
        setup_s = procstat.tree_cpu_s() - gen_cpu_s

        ticks0 = procstat.host_cpu_ticks()
        if args.trace:
            plain, traced = Pass(wl.types), Pass(wl.types)
            _drive(wl, plain, None, TRACE_ROUNDS)
            tracer.skip_untraced()
            _drive(wl, traced, None, TRACE_ROUNDS, tracer, "traced")
            measured = [plain, traced]
        else:
            p = Pass(wl.types)
            with procstat.RssSampler() as rss:
                _drive(wl, p, args.seconds, None)
            measured = [p]
        ticks1 = procstat.host_cpu_ticks()
        t = time.perf_counter()
        try:
            bad = wl.check()
        except Exception:
            traceback.print_exc(file=sys.stderr)
            bad = {typ: "check raised" for typ in wl.types}
        check_s = time.perf_counter() - t
        layer = _per_layer(tracer, wl, phases) if tracer else {}
        if tracer:
            tracer.close()
    finally:
        _stop_engine(eng.spark)
        shutil.rmtree(work, ignore_errors=True)

    host = _host_noise(ticks0, ticks1, bool(args.trace))
    attempted = len(warm.ops) + sum(len(p.ops) for p in measured)
    failed = 0
    for p in [warm, *measured]:
        failed += sum(1 for typ in p.ops if typ in bad) + sum(1 for typ in p.failed if typ not in bad)
    main_pass = measured[-1]
    per_type_ms = {t: statistics.median(v) * 1e3 for t, v in main_pass.walls.items() if v}
    all_ms = [w * 1e3 for v in main_pass.walls.values() for w in v]
    tail = stats.tail_percentile(all_ms)
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "master": f"local[{CPUS}]",
        "nproc": os.cpu_count(),
        "data_gen_s": gen_s,
        "setup_wall_s": setup_wall_s,
        "phases_s": dict(phases),
        "pass_wall_s": main_pass.wall_s,
        "ops": len(main_pass.ops),
        "ops_per_type": {t: len(v) for t, v in main_pass.walls.items()},
        "op_ms_median_by_type": per_type_ms,
        "op_tail_ms": None if tail is None else {"pct": tail[0] * 100, "value": tail[1], "samples": len(all_ms)},
        "ops_failed_frac": failed / attempted,
        "jit_cpu_s": main_pass.jit_cpu_s,
        "check": bad,
        "check_s": check_s,
        "host": host,
    }
    if args.trace:
        plain = measured[0]
        report["tracing_overhead_s"] = traced.wall_s - plain.wall_s
        report["per_layer_detail"] = layer.pop("_detail")
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in layer.items()}
        metrics["host.steal_frac"] = {"value": host["steal_frac"], "unit": "ratio"}
        metrics["host.canary_s"] = {"value": host["canary_s"], "unit": "s"}
    else:
        p = main_pass
        # every type's first measured op starts from the same state in
        # every run of a seed, so its job count repeats exactly
        report["op_ms_geomean"] = stats.geomean_of_medians({t: [w * 1e3 for w in v] for t, v in p.walls.items()})
        report["rows_per_s"] = sum(r for *_, r in p.rounds) / sum(w for w, *_ in p.rounds)
        report["rss_peak_mb"] = rss.peak_mb
        report["cpu_s"] = statistics.median(c for _, c, _, _ in p.rounds)
        report["cpu_nojit_s"] = statistics.median(c - j for _, c, j, _ in p.rounds)
        metrics = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "jobs_per_round": {"value": sum(p.jobs[t][0] for t in wl.types), "unit": "count"},
        }
    result = {"correct": not bad and failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}
    return report, result


def _per_layer(tracer, wl, phases) -> dict:
    """Per-layer metrics of the traced round, plus a detail block that
    splits them by op type (registry key, stream query, index or table
    call) and gives each span name's self time."""
    med = lambda v: statistics.median(v) if v else 0.0  # noqa: E731
    dur = lambda pr, k: pr.get("durationMs", {}).get(k, 0)  # noqa: E731
    ops = tracer.ops
    type_of = {o["op"]: o["type"] for o in ops}
    self_t = stats.self_times(tracer.spans)
    by_name: dict[str, list[float]] = {}
    self_ms: dict[str, float] = {}
    layers: dict[str, list[float]] = {}
    for s in tracer.spans:
        ms = (s["end"] - s["start"]) * 1e3
        by_name.setdefault(s["name"], []).append(ms)
        self_ms[s["name"]] = self_ms.get(s["name"], 0.0) + self_t[s["id"]] * 1e3
        if s["name"] != "op":
            layer, call = s["name"].split(".", 1)
            layers.setdefault(f"{layer}.{type_of[s['op']]}.{call}_ms", []).append(ms)
    for o in ops:
        t = o["type"]
        for k in ("stages", "tasks", "jobs"):
            layers.setdefault(f"operators.{t}.{k}", []).append(o[k])
        layers.setdefault(f"operators.{t}.cpu_ms", []).append(o["cpu_ms"])
        layers.setdefault(f"operators.{t}.shuffle_mb", []).append(o["shuffle_bytes"] / 1e6)
        for pr in o["progress"]:
            layers.setdefault(f"streaming.{t}.batch_ms", []).append(dur(pr, "triggerExecution"))
            layers.setdefault(f"streaming.{t}.overhead_ms", []).append(dur(pr, "triggerExecution") - dur(pr, "addBatch"))
            for so in pr.get("stateOperators", []):
                layers.setdefault(f"streaming.{t}.state_commit_ms", []).append(so.get("commitTimeMs", 0))
                layers.setdefault(f"streaming.{t}.state_rows", []).append(so.get("numRowsTotal", 0))
                layers.setdefault(f"streaming.{t}.state_mb", []).append(so.get("memoryUsedBytes", 0) / 1e6)
        if o["progress"]:
            layers.setdefault(f"streaming.{t}.batches", []).append(len(o["progress"]))
    prog = [pr for o in ops for pr in o["progress"]]
    state = [so for pr in prog for so in pr.get("stateOperators", [])]
    gens = idx_mb = live = 0.0
    if isinstance(getattr(wl, "ivf_path", None), str):
        gens = sum(1 for g in os.listdir(os.path.join(wl.ivf_path, "assignments")) if g.startswith("gen="))
        idx_mb = _du(wl.ivf_path) / 1e6
        live = _du(wl.lake.path) / max(1, _snapshot_bytes(wl.lake))
    detail = {
        "self_ms_by_span": self_ms,
        "layers_median": {k: med(v) for k, v in sorted(layers.items())},
        "streaming_batch_ms": med([dur(pr, "triggerExecution") for pr in prog]),
        "streaming_overhead_ms": med([dur(pr, "triggerExecution") - dur(pr, "addBatch") for pr in prog]),
        "streaming_state_commit_ms": med([so.get("commitTimeMs", 0) for so in state]),
        "ops": [{k: v for k, v in o.items() if k != "progress"} for o in ops],
    }
    return {
        "session.start_s": (dict(phases)["session.start"], "s"),
        "sources.bind_s": (dict(phases)["sources.bind"], "s"),
        "api.build_ms": (med(by_name.get("registry.build", []) + by_name.get("streaming.serve", [])), "ms"),
        "operators.exec_ms": (med(by_name.get("operators.exec", [])), "ms"),
        "operators.jobs": (sum(o["jobs"] for o in ops), "count"),
        "operators.stages": (sum(o["stages"] for o in ops), "count"),
        "operators.tasks": (sum(o["tasks"] for o in ops), "count"),
        "operators.cpu_ms": (med([o["cpu_ms"] for o in ops]), "ms"),
        "operators.shuffle_mb": (sum(o["shuffle_bytes"] for o in ops) / 1e6, "MB"),
        "caching.live_persists_max": (max(o["persisted_rdds"] for o in ops), "count"),
        "streaming.batches": (len(prog), "count"),
        "streaming.rows_dropped_late": (sum(so.get("numRowsDroppedByWatermark", 0) for so in state), "count"),
        "streaming.state_rows": (max((so.get("numRowsTotal", 0) for so in state), default=0), "count"),
        "streaming.ivf_generations": (gens, "count"),
        "streaming.index_mb": (idx_mb, "MB"),
        "lakehouse.bytes_per_live_byte": (live, "ratio"),
        "_detail": detail,
    }


def _du(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total


def _snapshot_bytes(table) -> int:
    """Bytes of the data files the table's current snapshot names."""
    m = table.manifest()
    total = 0
    for dirs in m["buckets"].values():
        for d in dirs:
            p = d if os.path.isabs(d) else os.path.join(table.path, d)
            total += _du(p) if os.path.isdir(p) else os.path.getsize(p)
    return total


def main(argv: list[str] | None = None) -> int:
    args = parse(sys.argv[1:] if argv is None else argv)
    if not os.path.isdir(os.path.join(ROOT, "processor_spark")):
        print(f"processor_spark not found under {ROOT}: run from a checkout of the repository", file=sys.stderr)
        return 2
    report, result = run(args)
    if args.trace:
        out = os.path.join(HERE, ".traces")
        os.makedirs(out, exist_ok=True)
        with open(os.path.join(out, f"{args.workload}-seed{args.seed}-{os.getpid()}.json"), "w") as fh:
            json.dump({"report": report, "result": result}, fh, indent=1, default=str)
    print(json.dumps(report, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
