#!/usr/bin/env python3
"""Engine benchmark: one workload per process, closed loop, one client.

    python3 perfbench/run.py --workload point_tiling --seed 1 --seconds 12 --trace 0
    python3 perfbench/run.py --self-check [--seconds 12]

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones (tracing off); with ``--trace 1`` the run
records spans around every call into an engine layer, enables the Spark
event log, probes the codec kernels, and reports the per-layer metrics.
Spans are written to ``.perfbench_out/<workload>-seed<n>-trace.json``
when the run ends.

A run is hermetic: the repo root is exported as ``PYTHONPATH`` and this
interpreter as ``PYSPARK_PYTHON`` before the JVM starts (so Spark's Python
workers import the engine's preloaded daemon), ``SPARK_GRAFT_*`` knobs
are cleared, and every file the run writes (Spark local dirs, event log,
tile stores, temp files) lives under ``.perfbench_run/`` in the checkout,
removed at exit. Inputs are generated from ``--seed``; nothing outside the
checkout is read.

``--self-check`` launches every workload, untraced and traced, from an
empty working directory outside the checkout, and reports failures,
tracing overhead, and how much of each batch pass the layer spans cover.
"""

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
RUN_BASE = ROOT / ".perfbench_run"
OUT_BASE = ROOT / ".perfbench_out"
ENGINE = ROOT / "vector_tile_go_spark"

WORKLOAD_NAMES = ("point_tiling", "polygon_roundtrip")
# input builds per run; setup_s counts their median
SETUP_BUILDS = 2
# untimed passes before timing: the first pass pays JIT and worker start
WARMUP_PASSES = {"point_tiling": 3, "polygon_roundtrip": 3}
# request rounds in the traced point_tiling run; the first is a warm-up
REQUEST_ROUNDS = 4

END_TO_END = {"setup_s": "s", "pass_s": "s", "features_per_s": "1/s"}

SPARK_OPS = ("sparkops.encode_point_tiles", "sparkops.decode_tile_stats",
             "sparkops.encode_geojson_tiles", "sparkops.decode_tiles")
PER_LAYER = (
    [("codec.point_encode_us_per_feature", "us"),
     ("codec.point_decode_us_per_feature", "us"),
     ("codec.geom_encode_us_per_vertex", "us"),
     ("codec.geom_decode_us_per_vertex", "us"),
     ("codec.wire_bytes_per_feature", "B")]
    + [(f"{op}{suffix}", unit) for op in SPARK_OPS
       for suffix, unit in (("_s", "s"), (".jobs", "count"),
                            (".stages", "count"), (".tasks", "count"),
                            (".python_wait_s", "s"))]
    + [("text.assign_tiles_s", "s"),
       ("store.write_tiles_s", "s"), ("store.write_tiles.jobs", "count"),
       ("store.read_tiles_s", "s"), ("store.tile_fetch_s", "s"),
       ("store.bytes_per_tile_byte", "ratio"),
       ("spatial.pip_join_s", "s"), ("spatial.pip_join.jobs", "count"),
       ("spatial.knn_join_s", "s"), ("spatial.knn_join.jobs", "count"),
       ("session.get_spark_s", "s"),
       ("jvm.task_run_s", "s"), ("jvm.cpu_s", "s"), ("jvm.gc_s", "s"),
       ("jvm.shuffle_write_mb", "MB"), ("jvm.spill_mb", "MB"),
       ("host.user_pct", "%"), ("host.sys_pct", "%"), ("host.steal_pct", "%"),
       ("mem.peak_pss_mb", "MB"),
       ("tiles_over_4kb_share", "ratio"),
       ("features_in_tiles_over_4kb_share", "ratio"),
       ("trace.setup_s", "s"), ("trace.pass_s", "s"),
       ("trace.layer_sum_s", "s")])
# spans of engine layers inside a pass
PASS_LAYERS = (*SPARK_OPS, "text.assign_tiles", "store.write_tiles",
               "store.read_tiles")
# spans of single requests
REQUEST_LAYERS = ("store.tile_fetch", "spatial.pip_join", "spatial.knn_join")


def socket_dir(run_dir: Path) -> str:
    """Directory for Spark's unix domain sockets, which the engine's session
    enables. A socket path may hold at most 107 bytes, and Spark adds a
    43-byte ``/.<uuid>.sock`` name, so a deep checkout cannot hold them
    directly: this process moves into ``run_dir/sock`` and the sockets go
    through ``/proc/<pid>/cwd``, a short path to the same directory that
    the JVM and the Python workers, whose working directories differ, all
    resolve alike. Must run before the JVM starts."""
    sock = run_dir / "sock"
    sock.mkdir()
    os.chdir(sock)
    return f"/proc/{os.getpid()}/cwd"


def hermetic_env(run_dir: Path, trace: bool) -> dict:
    """Point every writer at ``run_dir`` and the workers at this checkout;
    must run before the JVM starts."""
    cleared = sorted(k for k in os.environ
                     if k.startswith("SPARK_GRAFT_") or k == "SPARK_DRIVER_MEM")
    for k in cleared:
        del os.environ[k]
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True)
    submit = [f"--conf spark.sql.warehouse.dir={run_dir / 'warehouse'}",
              f"--conf spark.python.unix.domain.socket.dir={socket_dir(run_dir)}",
              "--conf spark.ui.showConsoleProgress=false"]
    if trace:
        (run_dir / "eventlog").mkdir()
        submit += ["--conf spark.eventLog.enabled=true",
                   f"--conf spark.eventLog.dir=file://{run_dir / 'eventlog'}",
                   "--conf spark.eventLog.compress=false"]
    env = {
        "PYTHONPATH": str(ROOT),
        "PYSPARK_PYTHON": sys.executable,
        "TMPDIR": str(tmp),
        "SPARK_LOCAL_DIRS": str(run_dir / "local"),
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYSPARK_SUBMIT_ARGS": " ".join(submit + ["pyspark-shell"]),
    }
    os.environ.update(env)
    tempfile.tempdir = None  # re-read TMPDIR
    return {"set": env, "cleared": cleared}


def stop_spark(spark, timeout: float = 60.0) -> None:
    """Stop the SparkContext, if ``spark`` is not None, and the gateway JVM
    (also one a failed session start left behind); closing the JVM's stdin
    makes it exit, which in turn ends the Python worker daemon."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    if spark is not None:
        spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=timeout)


def log(msg: str) -> None:
    print(f"perfbench {time.perf_counter() - T0:7.2f}s {msg}", file=sys.stderr,
          flush=True)


def _median(values, default=0.0) -> float:
    return float(statistics.median(values)) if values else default


def _layer_stats(out: dict, name: str, recs: list) -> None:
    """Median seconds and job counts of one layer over ``recs``, a list of
    (seconds, job totals) per pass or per request."""
    if not recs:
        return
    out[f"{name}_s"] = _median([r[0] for r in recs])
    for k in ("jobs", "stages", "tasks"):
        if f"{name}.{k}" in out:
            out[f"{name}.{k}"] = _median([r[1][k] for r in recs])
    if f"{name}.python_wait_s" in out:
        out[f"{name}.python_wait_s"] = _median(
            [r[1]["run_s"] - r[1]["cpu_s"] for r in recs])


def layer_metrics(tracer, events: dict, passes: list[dict],
                  requests: list) -> dict:
    """Per-layer metrics from the spans of the timed passes and requests
    and the Spark jobs run under each span. Layers a workload does not
    use report 0."""
    from tracing import job_totals

    out = {name: 0.0 for name, _ in PER_LAYER}
    spans = {s["id"]: s for s in tracer.spans}

    def under(sids) -> set[str]:
        return {f"span-{d}" for sid in sids for d in tracer.descendants(sid)}

    per_pass = []
    for p in passes:
        sp = p["span"]
        desc = tracer.descendants(sp["id"])
        layers = {}
        for name in PASS_LAYERS:
            mine = [spans[d] for d in desc if spans[d]["name"] == name]
            if mine:
                layers[name] = (sum(s["end"] - s["start"] for s in mine),
                                job_totals(events, under(s["id"] for s in mine)))
        per_pass.append({"pass_s": sp["end"] - sp["start"], "layers": layers,
                         "jvm": job_totals(events, under([sp["id"]]))})
    for name in PASS_LAYERS:
        _layer_stats(out, name, [r["layers"][name] for r in per_pass
                                 if name in r["layers"]])
    for name in REQUEST_LAYERS:
        _layer_stats(out, name, [
            (op.span["end"] - op.span["start"],
             job_totals(events, under([op.span["id"]])))
            for op in requests if op.kind == name and op.span is not None])

    jv = [r["jvm"] for r in per_pass]
    out["jvm.task_run_s"] = _median([j["run_s"] for j in jv])
    out["jvm.cpu_s"] = _median([j["cpu_s"] for j in jv])
    out["jvm.gc_s"] = _median([j["gc_s"] for j in jv])
    out["jvm.shuffle_write_mb"] = _median(
        [j["shuffle_write_b"] / 1e6 for j in jv])
    out["jvm.spill_mb"] = _median([j["spill_b"] / 1e6 for j in jv])
    for k in ("user_pct", "sys_pct", "steal_pct"):
        out[f"host.{k}"] = _median([p["cpu"][k] for p in passes])
    out["trace.pass_s"] = _median([r["pass_s"] for r in per_pass])
    out["trace.layer_sum_s"] = _median(
        [sum(v[0] for v in r["layers"].values()) for r in per_pass])
    return out


def store_metrics(spark, wl) -> dict:
    """Bytes on disk per tile byte of the workload's store, and how tiles
    and features split around the 4 KB decode threshold."""
    from pyspark.sql import functions as F

    from probes import BULK_STATS_MAX_TILE

    out = {}
    sizes = wl.tile_sizes().select(F.length("tile_pbf").alias("b"),
                                   "n_features").toPandas()
    big = sizes["b"] > BULK_STATS_MAX_TILE
    out["tiles_over_4kb_share"] = float(big.mean())
    out["features_in_tiles_over_4kb_share"] = float(
        sizes["n_features"][big].sum() / max(1, sizes["n_features"].sum()))
    dirs = wl.store_dirs()
    if dirs:
        disk = sum(f.stat().st_size for d in dirs
                   for f in Path(d).rglob("*.parquet"))
        out["store.bytes_per_tile_byte"] = disk / max(1, int(sizes["b"].sum()))
    return out


def run(args) -> int:
    if not (ENGINE / "__init__.py").is_file():
        print(f"perfbench: engine package not found at {ENGINE}",
              file=sys.stderr)
        return 2
    # a terminated run still stops Spark and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    run_dir = RUN_BASE / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    cwd = os.getcwd()
    env = hermetic_env(run_dir, args.trace)
    sys.path[:0] = [str(HERE), str(ROOT)]
    ncpu = len(os.sched_getaffinity(0))
    env["cores"] = ncpu
    env["python"] = sys.version.split()[0]
    print("perfbench env: " + json.dumps(env, sort_keys=True), file=sys.stderr,
          flush=True)

    from tracing import ProcessSampler, Tracer, cpu_mix, cpu_times, read_event_log

    # PSS reads walk every page table of the 4 GB JVM: only the traced run,
    # which reports memory, pays for them at a fine interval
    sampler = ProcessSampler(0.25 if args.trace else 1.0, pss=args.trace).start()
    spark = None
    try:
        from vector_tile_go_spark.session import get_spark
        import workloads

        t = time.perf_counter()
        spark = get_spark("perfbench", cores=ncpu)
        get_spark_s = time.perf_counter() - t
        session_ready = time.perf_counter() - T0
        log(f"session ready, get_spark {get_spark_s:.2f}s")
        tracer = Tracer(args.trace, spark.sparkContext)
        data_dir = run_dir / "data"
        data_dir.mkdir()
        wl = workloads.WORKLOADS[args.workload](spark, tracer, args.seed,
                                                str(data_dir))
        builds = []
        for i in range(SETUP_BUILDS):
            if i:
                wl.drop_inputs()
            t = time.perf_counter()
            wl.build_inputs()
            builds.append(time.perf_counter() - t)
            log(f"inputs built in {builds[-1]:.2f}s")
        ops = []
        t = time.perf_counter()
        for _ in range(WARMUP_PASSES[args.workload]):
            pass_ops = wl.run_pass("warmup")
            ops += pass_ops
            log(f"warm-up pass {sum(op.seconds for op in pass_ops):.2f}s")
        warm_s = time.perf_counter() - t
        setup_s = session_ready + statistics.median(builds) + warm_s

        passes = []
        t_loop = time.perf_counter()
        while time.perf_counter() - t_loop < args.seconds:
            c0 = cpu_times()
            pass_ops = wl.run_pass("pass")
            c1 = cpu_times()
            ops += pass_ops
            span = None
            if args.trace:  # the pass span is the last top-level span
                span = next(s for s in reversed(tracer.spans)
                            if s["parent"] is None)
            passes.append({"ops": pass_ops, "cpu": cpu_mix(c0, c1),
                           "span": span})
            log(f"pass {sum(op.seconds for op in pass_ops):.2f}s")

        # a pass whose engine call raised has no time (op.seconds stays 0) and
        # is left out; one that ran but failed its check still did the work.
        # Both count in ``failed``. With no pass timed the run fails.
        good = [p for p in passes if all(op.seconds > 0 for op in p["ops"])]
        pass_s = statistics.median(sum(op.seconds for op in p["ops"])
                                   for p in good)
        metrics = {
            "setup_s": setup_s,
            "pass_s": pass_s,
            # at the median pass, like pass_s
            "features_per_s": statistics.median(
                sum(op.features for op in p["ops"]) for p in good) / pass_s,
        }
        log("timed loop done")
        extra = {}
        requests = []
        if args.trace:
            import probes
            rounds = wl.request_rounds(REQUEST_ROUNDS)
            for r in rounds:
                ops += r
            requests = [op for r in rounds[1:] for op in r]
            log(f"{len(rounds)} request rounds done")
            extra.update(store_metrics(spark, wl))
            log("store metrics done")
            extra.update(probes.codec_metrics(args.seed))
            log("codec probes done")
        wl.drop_inputs()
    finally:
        if "pyspark" in sys.modules:
            stop_spark(spark)
        sampler.sample()
        sampler.stop()
        killed = sampler.wait_for_exit(timeout=60.0)
        if killed:
            log(f"killed processes left running: {killed}")
        if args.trace and (run_dir / "eventlog").is_dir() and spark is not None:
            events = read_event_log(str(run_dir / "eventlog"))
        os.chdir(cwd)
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            RUN_BASE.rmdir()
        except OSError:
            pass  # another run still uses it

    log("stopped")
    failed = sum(not op.ok for op in ops)
    if args.trace:
        lm = layer_metrics(tracer, events, passes, requests)
        lm.update(extra)
        lm["session.get_spark_s"] = get_spark_s
        lm["trace.setup_s"] = setup_s
        lm["mem.peak_pss_mb"] = sampler.peak_kb / 1024.0
        units = dict(PER_LAYER)
        out_metrics = {k: {"value": float(lm[k]), "unit": units[k]}
                       for k, _ in PER_LAYER}
        OUT_BASE.mkdir(exist_ok=True)
        with open(OUT_BASE / f"{args.workload}-seed{args.seed}-trace.json",
                  "w") as f:
            json.dump({"env": env, "spans": tracer.spans,
                       "end_to_end": metrics, "per_layer": lm}, f)
    else:
        out_metrics = {k: {"value": float(metrics[k]), "unit": unit}
                       for k, unit in END_TO_END.items()}
    print(json.dumps({"correct": failed == 0, "attempted": len(ops),
                      "failed": failed, "metrics": out_metrics}))
    return 0


def self_check(seconds: int) -> int:
    """Launch every workload untraced and traced from an empty directory
    outside the checkout; report failures, tracing overhead and the share
    of each batch pass that the layer spans account for."""
    before = set(os.listdir(ROOT))
    ok = True
    for name in WORKLOAD_NAMES:
        res = {}
        for trace in (0, 1):
            with tempfile.TemporaryDirectory() as cwd:
                p = subprocess.run(
                    [sys.executable, str(HERE / "run.py"), "--workload", name,
                     "--seed", "1", "--seconds", str(seconds), "--trace",
                     str(trace)], cwd=cwd, capture_output=True, text=True,
                    timeout=600)
            lines = p.stdout.strip().splitlines()
            if p.returncode or not lines:
                print(f"{name} trace={trace}: exit {p.returncode}\n"
                      f"{p.stderr[-2000:]}")
                ok = False
                break
            res[trace] = json.loads(lines[-1])
            good = res[trace]["correct"] and res[trace]["failed"] == 0
            ok &= good
            print(f"{name} trace={trace}: attempted "
                  f"{res[trace]['attempted']} failed {res[trace]['failed']}")
        if len(res) < 2:
            continue
        e2e = {k: v["value"] for k, v in res[0]["metrics"].items()}
        lay = {k: v["value"] for k, v in res[1]["metrics"].items()}
        for k in ("setup_s", "pass_s"):
            print(f"  {k} untraced {e2e[k]:.3f} traced {lay['trace.' + k]:.3f}"
                  f" tracing overhead {lay['trace.' + k] - e2e[k]:+.3f} s")
        share = lay["trace.layer_sum_s"] / e2e["pass_s"]
        print(f"  layer spans sum {lay['trace.layer_sum_s']:.3f} s = "
              f"{share:.2f} x untraced pass_s")
        ok &= abs(share - 1.0) <= 0.10
    leftover = set(os.listdir(ROOT)) - before - {OUT_BASE.name}
    if leftover:
        print(f"files left in the checkout: {sorted(leftover)}")
        ok = False
    print("self-check " + ("passed" if ok else "FAILED"))
    return 0 if ok else 1


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=12)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-check", action="store_true")
    args = ap.parse_args()
    if args.self_check:
        return self_check(args.seconds)
    if args.workload is None:
        ap.error("--workload is required")
    args.trace = bool(args.trace)
    return run(args)


if __name__ == "__main__":
    sys.exit(main())
