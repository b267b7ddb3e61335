"""Benchmark entry point.

    python3 perfbench/run.py --workload notebook_gateway --seed 1 \
        --seconds 15 --trace 0

Run from the root of a checkout. Builds the sf0.1 inputs once (under
``.perfbench_work/``), starts a fresh system-under-test process, drives the
workload for ``--seconds`` (always at least one full pass), checks the
outputs, and prints a report line followed by the result object as the last
line of standard output. ``--trace 0`` reports the end-to-end metrics,
``--trace 1`` the per-layer metrics of a separate traced run.
``--delay-ms N`` (off by default) sleeps N ms before every
``Engine.execute_sql`` inside the system under test: the sensitivity probe.
Its baseline is ``--delay-ms 0``, which runs the same launcher.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
import urllib.request

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from common import (  # noqa: E402
    TAIL_PCT,
    WORK_DIR,
    RssSampler,
    Tracer,
    adopt_orphans,
    beyond_tail,
    covered_wall,
    geomean,
    p50,
    self_times,
    stop_descendants,
    sut_env,
    tail,
)

WORKLOADS = ("notebook_gateway", "batch_pipeline", "streaming_replay")
SF = 0.1
N_CLIENTS = 2
STAGE_FILES = 3
SUT_TIMEOUT_S = 170.0


# ---- process control ---------------------------------------------------------

def _stop(proc: subprocess.Popen, grace: float = 20.0) -> None:
    if proc.poll() is None:
        try:
            proc.send_signal(signal.SIGTERM)
            proc.wait(timeout=grace)
        except subprocess.TimeoutExpired:
            proc.kill()
    proc.wait()
    # the JVM and Python workers it started: orphans of this process now
    stop_descendants()


# ---- metric helpers ----------------------------------------------------------

def _ms(xs):
    return [x * 1e3 for x in xs]


def _e2e(setup_s, passes, walls_by_name, first_s):
    """The end-to-end metrics every workload reports. ``walls_by_name`` maps
    an operation name to its submit-to-done seconds; ``first_s`` holds each
    operation's submit-to-first-result seconds."""
    walls = [w for ws in walls_by_name.values() for w in ws]

    def of(f, xs):
        # 0 when every operation failed: the run still reports its failures
        return f(xs) if xs else 0.0

    return {
        "setup_s": (setup_s, "s"),
        "pass_wall_s": (of(p50, passes), "s"),
        "stmt_p50_ms": (of(p50, _ms(walls)), "ms"),
        "stmt_tail_ms": (of(tail, _ms(walls)), "ms"),
        "first_page_p50_ms": (of(p50, _ms(first_s)), "ms"),
        "first_page_tail_ms": (of(tail, _ms(first_s)), "ms"),
        "entry_geomean_s": (of(geomean, [p50(ws) for ws in walls_by_name.values()]), "s"),
    }, {
        "passes": len(passes),
        "stmt_samples": len(walls),
        "first_page_samples": len(first_s),
        "tail_pct": TAIL_PCT,
        "stmt_beyond_tail": beyond_tail(len(walls)),
        "entry_names": len(walls_by_name),
    }


def _stream_layer(progress):
    """stream.* metrics from the listener's per-trigger records."""
    def dur(key):
        return [p["duration_ms"].get(key, 0) for p in progress]

    out = {
        "stream.triggers": len(progress),
        "stream.query_planning_ms": p50(dur("queryPlanning")) if progress else 0.0,
        "stream.get_batch_ms": p50(dur("getBatch")) if progress else 0.0,
        "stream.add_batch_ms": p50(dur("addBatch")) if progress else 0.0,
        "stream.wal_commit_ms": p50(dur("walCommit")) if progress else 0.0,
        "stream.commit_offsets_ms": p50(dur("commitOffsets")) if progress else 0.0,
        "stream.state_commit_ms": p50([p["state_commit_ms"] for p in progress]) if progress else 0.0,
        "stream.state_rows": max((p["state_rows"] for p in progress), default=0),
        "stream.state_mb": max((p["state_bytes"] for p in progress), default=0) / 1048576.0,
        "stream.state_partitions": p50([p["state_partitions"] for p in progress]) if progress else 0.0,
        "stream.input_rows": sum(p["input_rows"] for p in progress),
    }
    trig = dur("triggerExecution")
    out["trigger_p50_ms"] = p50(trig) if trig else 0.0
    out["trigger_tail_ms"] = tail(trig) if trig else 0.0
    return out, len(trig)


def _event_log(work, app_id):
    import tracing

    path = tracing.find_event_log(os.path.join(work, "eventlog"), app_id)
    if path is None:
        return {}
    return tracing.parse_event_log(path)


def _code_layers(spans, phases):
    """Per-layer numbers from the spans around the engine's public calls."""
    st = self_times(spans)

    def self_of(name):
        return [st[s["id"]] * 1e3 for s in spans if s["name"] == name]

    rewrites = [s for s in spans if s["name"] == "window_sql.rewrite"]
    fetches = [s for s in spans if s["name"] == "statement.batch_fetch"]
    first = [s for s in fetches if s["attrs"].get("token") == 0]
    later = [s for s in fetches if s["attrs"].get("token", 0) > 0
             and s["attrs"].get("kind") == "PAYLOAD"]
    payload = [s for s in spans if s["name"].startswith("statement.")
               and s["name"].endswith("_fetch") and s["attrs"].get("kind") == "PAYLOAD"]
    out = {
        "ddl.parse_ms": p50(self_of("ddl.parse_statement") or [0.0]),
        "window_sql.rewrite_ms": p50(self_of("window_sql.rewrite") or [0.0]),
        "window_sql.rewrites": sum(1 for s in rewrites if s["attrs"].get("changed")),
        "engine.submit_ms": p50(self_of("engine.execute_sql") or [0.0]),
        "statement.first_fetch_ms": p50(
            [(s["end"] - s["start"]) * 1e3 for s in first] or [0.0]),
        "statement.page_ms": p50(
            [(s["end"] - s["start"]) * 1e3 for s in later] or [0.0]),
        "statement.pages": len(payload),
        "statement.rows": sum(s["attrs"].get("rows", 0) for s in payload),
        "statement.cancel_ms": p50(self_of("statement.cancel") or [0.0]),
        "sources.build_ms": p50(self_of("sources.build_source") or [0.0]),
        "session.get_spark_s": sum(self_of("session.get_spark")) / 1e3,
        "session.engine_init_s": p50(self_of("session.engine_init") or [0.0]) / 1e3,
    }
    for ph in ("analysis", "optimization", "planning"):
        vals = [p[ph] for p in phases if ph in p]
        out[f"engine.catalyst_{ph}_ms"] = p50(vals) if vals else 0.0
    return out


# ---- notebook_gateway --------------------------------------------------------

def run_gateway(root, work, sf_dir, args, cpus):
    import datagen
    import gateway_load

    stage = datagen.stage_events(sf_dir, os.path.join(work, "events-stage"), STAGE_FILES)
    oracle = gateway_load.Oracle(sf_dir)
    event_log = os.path.join(work, "eventlog") if args.trace else None
    env = sut_env(root, work, cpus, event_log, args.delay_ms or 0.0)
    spans_out = os.path.join(work, "gateway-spans.json")
    if args.trace or args.delay_ms is not None:
        cmd = [sys.executable, os.path.join(HERE, "gateway_sut.py"), "--cpus", str(cpus),
               "--trace", str(args.trace), "--out", spans_out]
    else:
        cmd = [sys.executable, "-m", "flink_notebooks_spark", "--cpus", str(cpus),
               "gateway", "--port", "0"]
    t_spawn = time.time()
    proc = subprocess.Popen(cmd, env=env, cwd=work, stdout=subprocess.PIPE, text=True)
    tracer = Tracer(enabled=bool(args.trace))
    clients: list = []
    try:
        with RssSampler(proc.pid) as rss:
            line = proc.stdout.readline()
            if not line:
                raise RuntimeError("gateway exited before listening")
            base = json.loads(line)["listening"]
            info = json.loads(
                urllib.request.urlopen(base + "/v1/info", timeout=30).read()
            )
            if "productName" not in info:
                raise RuntimeError(f"unexpected /v1/info reply: {info}")
            setup_s = time.time() - t_spawn
            deadline = time.time() + args.seconds
            clients = [
                gateway_load.Client(i, base, args.seed, sf_dir, stage, work, tracer, oracle)
                for i in range(N_CLIENTS)
            ]
            threads = [
                threading.Thread(target=c.run, args=(deadline,))
                for c in clients
            ]
            for t in threads:
                t.start()
            for t in threads:
                t.join()
            _stop(proc)
    finally:
        _stop(proc)
    for cl in clients:
        cl.check()
    cells = [c for cl in clients for c in cl.cells]
    errors = [e for cl in clients for e in cl.errors]
    failures = [f"{c['kind']}: {c['cause']}" for c in cells if not c["ok"]] + errors
    ok_cells = [c for c in cells if c["ok"]]
    walls: dict[str, list[float]] = {}
    for c in ok_cells:
        walls.setdefault(c["kind"], []).append(c["t_done"] - c["t0"])
    firsts = [c["t_first"] - c["t0"] for c in ok_cells if "t_first" in c]
    passes = [b - a for cl in clients for a, b in cl.passes]
    e2e, counts = _e2e(setup_s, passes, walls, firsts)
    stream = [c for c in ok_cells if c["streaming"]]
    extra = {
        "peak_rss_mb": rss.peak / 1048576.0,
        "stream_first_page_p50_ms": p50([(c["t_first"] - c["t0"]) * 1e3 for c in stream])
        if stream else 0.0,
        "stream_result_p50_ms": p50([(c["t_result"] - c["t0"]) * 1e3 for c in stream])
        if stream else 0.0,
    }
    counts["cells"] = {
        k: {"n": len(ws), "p50_ms": round(p50(ws) * 1e3, 1),
            "rows": p50([c["rows"] for c in ok_cells if c["kind"] == k])}
        for k, ws in sorted(walls.items())
    }
    raw = {"cells": cells, "passes": passes, "clients": clients, "work": work,
           "spans_out": spans_out, "tracer": tracer}
    return e2e, counts, extra, len(cells) + len(errors), failures, raw


def gateway_layers(raw):
    """Per-layer numbers of a traced gateway run."""
    with open(raw["spans_out"]) as f:
        sut = json.load(f)
    spans = sut["spans"]
    phases = [s["attrs"]["phases"] for s in spans if s["attrs"].get("phases")]
    out = _code_layers(spans, phases)
    reqs = [r for cl in raw["clients"] for r in cl.requests]
    gw_spans = [s for s in spans if s["name"] in ("gateway.execute_statement",
                                                   "gateway.fetch_result")]
    rpc = [t for k, t in reqs if k in ("execute", "fetch")]
    server = sum(s["end"] - s["start"] for s in gw_spans)
    out["gateway.requests"] = len(reqs)
    out["gateway.http_ms"] = (sum(rpc) - server) / max(len(rpc), 1) * 1e3
    st = self_times(spans)
    shape = [st[s["id"]] for s in spans if s["name"] == "gateway.fetch_result"]
    out["gateway.shape_ms"] = sum(shape) / len(shape) * 1e3 if shape else 0.0
    fetches = sum(c["fetches"] for c in raw["cells"])
    out["gateway.not_ready_frac"] = (
        sum(c["not_ready"] for c in raw["cells"]) / fetches if fetches else 0.0)
    stream_recs = [c for c in raw["cells"] if c["streaming"]]
    out["statement.changelog_rows"] = sum(c["rows"] for c in stream_recs)
    st, n_trig = _stream_layer(sut["progress"])
    out.update(st)
    out.update(_event_log(raw["work"], sut["app_id"]))
    # coverage: each client's statement spans against its pass walls
    cspans = raw["tracer"].spans
    cover = wall = 0.0
    for cl in raw["clients"]:
        mine = [s for s in cspans if s["attrs"].get("client") == cl.idx]
        for lo, hi in cl.passes:
            cover += covered_wall(mine, lo, hi)
            wall += hi - lo
    return out, {"triggers": n_trig, "coverage_wall_s": wall, "coverage_s": cover,
                 "spans": len(spans) + len(cspans)}


# ---- batch_pipeline and streaming_replay -------------------------------------

def _inproc_child(root, work, sf_dir, args, cpus, trace, one_pass, tag):
    """Run perfbench/inproc.py in a fresh process; return (result, peak RSS)."""
    out = os.path.join(work, f"inproc-{tag}.json")
    event_log = os.path.join(work, "eventlog") if trace else None
    env = sut_env(root, work, cpus, event_log, args.delay_ms or 0.0)
    t_spawn = time.time()
    cmd = [sys.executable, os.path.join(HERE, "inproc.py"),
           "--workload", args.workload, "--sf-dir", sf_dir,
           "--seed", str(args.seed), "--seconds", str(args.seconds),
           "--cpus", str(cpus), "--trace", str(trace),
           "--spawned-at", repr(t_spawn), "--one-pass", str(int(one_pass)),
           "--out", out]
    proc = subprocess.Popen(cmd, env=env, cwd=work)
    try:
        with RssSampler(proc.pid, until=lambda: os.path.exists(out + ".measured")) as rss:
            proc.wait(timeout=SUT_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        raise RuntimeError(f"{args.workload} process exceeded {SUT_TIMEOUT_S:.0f} s")
    finally:
        _stop(proc)
    if proc.returncode != 0 or not os.path.exists(out):
        raise RuntimeError(f"{args.workload} process exited with {proc.returncode}")
    with open(out) as f:
        return json.load(f), rss.peak


def _first_result_s(op, progress, streaming):
    """Submit-to-first-result of one entry: the end of its first trigger for
    a streaming entry, the built DataFrame for a batch entry (the noop sink
    pages no rows)."""
    if not streaming:
        return op["t_built"] - op["t0"]
    ends = [p["start"] + p["duration_ms"].get("triggerExecution", 0) / 1e3
            for p in progress if op["t0"] <= p["start"] <= op["t_done"]]
    return (min(ends) - op["t0"]) if ends else op["t_done"] - op["t0"]


def run_inproc(root, work, sf_dir, args, cpus):
    streaming = args.workload == "streaming_replay"
    res, peak = _inproc_child(root, work, sf_dir, args, cpus, args.trace, False, "main")
    ops = res["ops"]
    failures = [f"{o['name']} (warm-up pass): {o['error']}"
                for o in res["warm_up_ops"] if not o["ok"]]
    failures += [f"{o['name']}: {o['error']}" for o in ops if not o["ok"]]
    failures += [f"{c['name']}: output check failed: {c['cause']}"
                 for c in res["checks"] if not c["ok"]]
    bad = {c["name"] for c in res["checks"] if not c["ok"]}
    good = [o for o in ops if o["ok"] and o["name"] not in bad]
    walls: dict[str, list[float]] = {}
    for o in good:
        walls.setdefault(o["name"], []).append(o["t_done"] - o["t0"])
    firsts = [_first_result_s(o, res["progress"], streaming) for o in good]
    e2e, counts = _e2e(res["setup_s"], res["passes"], walls, firsts)
    counts["order"] = res["order"]
    counts["entry_s"] = {n: [round(w, 3) for w in ws] for n, ws in walls.items()}
    counts["setup_parts_s"] = {k: round(v, 3) for k, v in res["setup"].items()}
    trig = [p["duration_ms"].get("triggerExecution", 0) for p in res["progress"]]
    extra = {
        "peak_rss_mb": peak / 1048576.0,
        "stream_first_page_p50_ms": p50(_ms(firsts)) if streaming and firsts else 0.0,
        "stream_result_p50_ms": p50(_ms([w for ws in walls.values() for w in ws]))
        if streaming and walls else 0.0,
        "trigger_p50_ms": p50(trig) if trig else 0.0,
        "trigger_tail_ms": tail(trig) if trig else 0.0,
    }
    counts["triggers"] = len(trig)
    raw = {"res": res, "walls": walls, "work": work}
    attempted = len(res["warm_up_ops"]) + len(ops) + len(res["checks"])
    return e2e, counts, extra, attempted, failures, raw


def inproc_layers(root, work, sf_dir, args, raw):
    """Per-layer numbers of a traced batch_pipeline or streaming_replay run,
    plus its single-core pass."""
    import inproc

    res = raw["res"]
    spans = res["spans"]
    phases = list(res.get("phases", {}).values())
    out = _code_layers(spans, phases)
    out.update({"gateway.requests": 0, "gateway.http_ms": 0.0, "gateway.shape_ms": 0.0,
                "gateway.not_ready_frac": 0.0, "statement.changelog_rows": 0})
    st, n_trig = _stream_layer(res["progress"])
    out.update(st)
    out.update(_event_log(work, res["app_id"]))
    fam = inproc.entries_for(args.workload)
    for layer, sec in (("queries.build", False), ("queries.exec", True)):
        sel = [s for s in spans if s["name"] == layer]
        unit = 1.0 if sec else 1e3
        key = f"{layer}_s" if sec else f"{layer}_ms"
        out[key] = p50([(s["end"] - s["start"]) * unit for s in sel] or [0.0])
        for family in sorted(set(inproc.BATCH_ENTRIES.values()) | set(inproc.STREAM_ENTRIES.values())):
            vals = [(s["end"] - s["start"]) * unit for s in sel
                    if s["attrs"].get("family") == family and family in fam.values()]
            out[f"{key}.{family}"] = p50(vals) if vals else 0.0
    warm = [s for s in spans if s["name"] == "queries.cache_warm"]
    out["queries.cache_warm_s"] = sum(s["end"] - s["start"] for s in warm)
    # coverage: set-up, pass and warm-up spans against the traced process's
    # wall from its spawn
    top = [s for s in spans if s["parent"] is None]
    lo = res["spawned_at"]
    hi = max(s["end"] for s in top)
    cover = covered_wall(top, lo, hi)
    # single-core pass
    one, _ = _inproc_child(root, work, sf_dir, args, 1, 0, True, "c1")
    c1: dict[str, float] = {}
    for o in one["ops"]:
        if o["ok"]:
            c1[o["name"]] = o["t_done"] - o["t0"]
    ratios = {n: p50(raw["walls"][n]) / c1[n] for n in c1 if n in raw["walls"]}
    out["scale.cn_over_c1"] = geomean(list(ratios.values())) if ratios else 0.0
    return out, {"triggers": n_trig, "coverage_wall_s": hi - lo, "coverage_s": cover,
                 "spans": len(spans), "scale_per_entry": ratios}


# ---- per-layer metric list ---------------------------------------------------

def _spec() -> dict:
    with open(os.path.join(os.getcwd(), "BENCHMARK.json")) as f:
        return json.load(f)


def _history(work_root, key, trace, pass_wall):
    """Append this run's pass wall under ``key`` (workload, operation list,
    delay and seconds); return the untraced pass walls recorded under the
    same key."""
    path = os.path.join(work_root, "history.jsonl")
    with open(path, "a") as f:
        f.write(json.dumps({"key": key, "trace": trace, "pass_wall_s": pass_wall}) + "\n")
    with open(path) as f:
        rows = [json.loads(line) for line in f]
    return [r["pass_wall_s"] for r in rows if r.get("key") == key and not r["trace"]]


def _untraced_pass_wall(root, work_root, sf_dir, args, cpus) -> float:
    """pass_wall_s of one untraced run of the same workload in a fresh
    process: the tracing-overhead base when no earlier run gives one."""
    base_args = argparse.Namespace(**{**vars(args), "trace": 0})
    work = os.path.join(work_root, f"base-{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        if args.workload == "notebook_gateway":
            e2e = run_gateway(root, work, sf_dir, base_args, cpus)[0]
            return e2e["pass_wall_s"][0]
        res, _ = _inproc_child(root, work, sf_dir, base_args, cpus, 0, True, "base")
        return p50(res["passes"])
    finally:
        shutil.rmtree(work, ignore_errors=True)


# ---- main --------------------------------------------------------------------

def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--delay-ms", type=float, default=None)
    args = ap.parse_args()
    # a terminated benchmark still stops the processes it started
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "flink_notebooks_spark", "__init__.py")):
        print("perfbench: run from the root of a flink_notebooks_spark checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    import datagen
    import pyspark

    cpus = os.cpu_count() or 1
    work_root = os.path.join(root, WORK_DIR)
    sf_dir = datagen.ensure_tables(os.path.join(work_root, "data"), SF)
    work = os.path.join(work_root, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        if args.workload == "notebook_gateway":
            e2e, counts, extra, attempted, failures, raw = run_gateway(
                root, work, sf_dir, args, cpus)
        else:
            e2e, counts, extra, attempted, failures, raw = run_inproc(
                root, work, sf_dir, args, cpus)
        extra["failed_frac"] = len(failures) / max(attempted, 1)
        spec = _spec()
        e2e_names = [m["name"] for m in spec["end_to_end"]]
        # the numbers computed with the end-to-end ones that BENCHMARK.json
        # keeps per-layer (see README.md)
        extra.update({k: v for k, (v, _) in e2e.items() if k not in e2e_names})
        key = ":".join([args.workload, ",".join(sorted(counts.get("cells") or counts["order"])),
                        f"delay={args.delay_ms}", f"seconds={args.seconds}"])
        base = _history(work_root, key, args.trace, e2e["pass_wall_s"][0])
        report = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "nproc": cpus, "pyspark": pyspark.__version__, "sf": SF,
            "delay_ms": args.delay_ms, "counts": counts, "failures": failures,
            "end_to_end": {n: {"value": e2e[n][0], "unit": e2e[n][1]} for n in e2e_names},
        }
        if args.trace:
            if args.workload == "notebook_gateway":
                layers, info = gateway_layers(raw)
            else:
                layers, info = inproc_layers(root, work, sf_dir, args, raw)
            layers.update(extra)
            wall = info["coverage_wall_s"]
            layers["trace.coverage"] = info["coverage_s"] / wall if wall else 0.0
            layers["trace.pass_wall_s"] = e2e["pass_wall_s"][0]
            info["overhead_base_runs"] = len(base)
            if not base:
                # no untraced run of this workload in this checkout yet
                base = [_untraced_pass_wall(root, work_root, sf_dir, args, cpus)]
                info["overhead_base"] = "fresh untraced pass"
            layers["trace.overhead_s"] = e2e["pass_wall_s"][0] - statistics.median(base)
            report["trace_info"] = info
            metrics = {m["name"]: {"value": float(layers.get(m["name"], 0.0)),
                                   "unit": m["unit"]}
                       for m in spec["per_layer"]}
            report["per_layer"] = metrics
        else:
            # the other user-visible numbers, kept per-layer in
            # BENCHMARK.json; 0 where a workload has none
            report["also_measured"] = extra
            metrics = {n: {"value": e2e[n][0], "unit": e2e[n][1]} for n in e2e_names}
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"report": report}, default=str))
    print(json.dumps({
        "correct": not failures,
        "attempted": attempted,
        "failed": len(failures),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    adopt_orphans()
    try:
        code = main()
    finally:
        # every path out, a raised error or SIGTERM too, waits for all the
        # processes this run started to end
        stop_descendants()
    sys.exit(code)
